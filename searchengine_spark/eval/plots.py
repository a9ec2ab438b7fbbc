"""Precision-recall curve output — the reference's last unported
surface (main_precision_recall_single_query_turnin_with_plot.py:233-239
plots recall vs precision per strategy for its first Cranfield query
and ships the four PNGs, Precision-Recall-Curve-{Default,Traditional,
Okapi,Wacky}-Query1.png).

The CURVE DATA is the engine's product (eval.metrics.precision_recall_
curve — one (recall, precision) point per rank, exactly the reference's
per-rank append loop); rendering is an OPTIONAL matplotlib dependency,
mirroring ops/multimodal.py's optional-PIL pattern: data always writes
(JSON artifact), pixels only when matplotlib is importable, with a
clear ImportError otherwise.

Scale shape: everything here is post-top-k — curves are k-point python
lists per strategy; the distributed work (rank_topk per strategy) is
the same TakeOrderedAndProject plan the rank_* gate entries pin.
"""

from __future__ import annotations

import json
import os
from collections.abc import Mapping, Sequence

from .metrics import precision_recall_curve

# engine strategy name -> the reference's plot/file label
STRATEGY_LABELS = {
    "default": "Default",
    "tfidf": "Traditional",
    "bm25": "Okapi",
    "wacky": "Wacky",
}

try:  # pragma: no cover - matplotlib absent in the build container
    # Figure + explicit Agg canvas, NOT pyplot: importing this module
    # must not flip the process-wide backend (a matplotlib.use("Agg")
    # here would silently kill inline rendering for a notebook user
    # who only imported write_pr_curve_data)
    from matplotlib.backends.backend_agg import (
        FigureCanvasAgg as _FigureCanvasAgg,
    )
    from matplotlib.figure import Figure as _Figure
except ImportError:  # pragma: no cover
    _Figure = None
    _FigureCanvasAgg = None


def pr_curves_for_query(
    index,
    query: str,
    relevant: set[int],
    k: int = 50,
    strategies: Sequence[str] = tuple(STRATEGY_LABELS),
    normalize=None,
    doc_to_file: Mapping[int, int] | None = None,
) -> dict[str, list[tuple[float, float]]]:
    """Run the four ranked strategies for one query and return their
    precision-recall curves. ``doc_to_file`` maps engine doc_ids to the
    qrel id namespace (Cranfield judges file stems, not corpus order);
    None means doc_ids are already qrel ids. A ranked doc_id missing
    from ``doc_to_file`` raises ``ValueError`` naming it."""
    from ..queries.ranked import rank_topk

    out: dict[str, list[tuple[float, float]]] = {}
    for s in strategies:
        ids = [
            r["doc_id"]
            for r in rank_topk(index, query, s, k, normalize=normalize)
            .select("doc_id").collect()
        ]
        if doc_to_file is not None:
            for d in ids:
                if d not in doc_to_file:
                    raise ValueError(f"doc_id {d} is not in doc_to_file")
            ids = [doc_to_file[d] for d in ids]
        out[s] = precision_recall_curve(ids, relevant)
    return out


def write_pr_curve_data(
    curves: Mapping[str, Sequence[tuple[float, float]]],
    out_dir: str,
    query_label: str = "Query1",
) -> str:
    """Always-available artifact: one JSON file with every strategy's
    points — any plotting tool renders it; returns the path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"Precision-Recall-Curve-{query_label}.json"
    )
    payload = {
        STRATEGY_LABELS.get(s, s): [[r, p] for r, p in pts]
        for s, pts in curves.items()
    }
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    return path


def render_pr_curves(
    curves: Mapping[str, Sequence[tuple[float, float]]],
    out_dir: str,
    query_label: str = "Query1",
) -> list[str]:
    """Render one PNG per strategy with the reference's file naming and
    plot shape (recall on x, precision on y, per-rank markers,
    upper-right legend). OPTIONAL matplotlib — raises a clear
    ImportError when it is not installed (the JSON artifact from
    ``write_pr_curve_data`` is the no-dependency path)."""
    if _Figure is None:  # pragma: no cover - exercised via monkeypatch
        raise ImportError(
            "matplotlib is required to render precision-recall PNGs; "
            "pip install matplotlib, or use write_pr_curve_data() for "
            "the plot-tool-agnostic JSON artifact"
        )
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for s, pts in curves.items():
        label = STRATEGY_LABELS.get(s, s)
        fig = _Figure()
        _FigureCanvasAgg(fig)  # draw on an Agg canvas, no global state
        ax = fig.subplots()
        ax.plot(
            [r for r, _ in pts],
            [p for _, p in pts],
            label=f"Precision-Recall-{query_label}-{label}",
            marker="o",
        )
        ax.set_xlabel("Recall")
        ax.set_ylabel("Precision")
        ax.legend(loc="upper right")
        path = os.path.join(
            out_dir, f"Precision-Recall-Curve-{label}-{query_label}.png"
        )
        fig.savefig(path)
        paths.append(path)
    return paths
