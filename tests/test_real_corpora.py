"""Real-corpus parity gates: the engine vs the REFERENCE'S OWN CODE on
its own shipped corpora (relevance_cranfield, all-nps-sites-extracted).

Subset-scale here (pytest budget); the full-corpus runs are
tools/cranfield_eval.py (1400 docs × 225 queries × 4 strategies,
all rank-identical + equal MAP) and tools/nps_parity.py (36,804 docs),
with results recorded in BASELINE.md.

Run as subprocesses: each tool owns its SparkSession and imports the
reference package from /root/reference (read-only), which must not
contaminate this test process's module namespace.
"""

from __future__ import annotations

import json
import subprocess
import sys

TIMEOUT = 420


def _run(args: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, *args],
        capture_output=True, text=True, timeout=TIMEOUT, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    return json.loads(line)


def test_cranfield_subset_rank_identical_and_map(reference_tree):
    out = _run([
        "tools/cranfield_eval.py", "--n-docs", "120", "--n-queries", "6",
        "--strategies", "bm25,default",
    ])
    assert out["all_rank_identical"], out
    for s in ("bm25", "default"):
        assert out[f"{s}_map_ref"] == out[f"{s}_map_spark"]


def test_nps_subset_rank_and_boolean_identical(reference_tree):
    out = _run(["tools/nps_parity.py", "--n-docs", "150"])
    assert out["rank_identical"], out["rank_mismatches"]
    assert out["boolean_identical"], out["boolean_mismatches"]


def test_mlb_author_soundex_parity(reference_tree):
    out = _run(["tools/mlb_soundex_parity.py", "--n-docs", "800"])
    assert out["containment"], out["containment_misses"]
    assert out["spark_n_codes"] == out["ref_n_codes"]
