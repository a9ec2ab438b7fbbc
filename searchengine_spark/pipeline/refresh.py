"""O(delta) refresh of a published index from a versioned pages table —
the closed crawl-refresh loop the north rule's Iceberg framing implies:

    pages SnapshotTable (url, warc_ts, html, text, lang)
        v_k ──append crawl batch──▶ v_{k+1}
                    │ read_appends(v_k, v_{k+1})   (incremental scan,
                    ▼                               manifests only)
    analyze ONLY the delta (url-hash doc_ids, streaming/ingest's
    analyzer — batch and streamed indexes agree on doc identity)
                    │
                    ▼
    index SnapshotTable: commit(delta segments, deletes=delta doc_ids)
        — an Iceberg-v2 row-delta commit: the 10^12-doc base segment
        files are NEVER rewritten; re-crawled urls are superseded by
        an equality-delete file interpreted at decode time (the
        sequence-number rule keeps the delta's own rows).

This loop is the one way an index stays current:

* ``scripts/submit_refresh_job.py`` runs it per scheduled crawl cycle;
* ``streaming/ingest.start_segment_maintenance`` runs it per stream
  micro-batch (append the batch to the pages table, then refresh);
* ``rewrite_pages_index`` is the major compaction that folds the
  accumulated layers back into a clean base, and
  ``maybe_rewrite_pages_index`` runs it only past the debt thresholds.

A refresh writes ONLY delta-sized files (new segment rows + a delete
file); readers reconcile (the Iceberg v2 / Lucene-liveDocs shape).
``indexing/segments.merge_segments`` is the copy-on-write alternative:
it regroups only the delta-touched (term, block) groups, but returns
the whole segment set, which is published as an overwrite per merge.
Every commit of the index table — build, refresh and rewrite — goes
through ``pipeline/index_pipeline.publish_segments``, the one writer
of the table's bucketing, clustering and layout properties.

The ``refreshed_*`` functions below are the serving module for every
index table — a refreshed one and one written by
``pipeline/index_pipeline.publish_segments`` alike (a delete-free
snapshot skips the reconcile).

Serving exactness contract (tested in tests/test_refresh.py):

* ``refreshed_topk`` / ``refreshed_topk_batch`` / ``refreshed_boolean``
  — EXACT: identical rows, scores and quirks to a from-scratch build
  over the latest crawl state (dft is counted from live decoded
  postings; n_docs/avg_dl come from the docstats companion table,
  which applies its deletes generically).
* ``queries/wand.wand_topk(deletes=…)`` — live docs only, exact
  pruning, but wqt/bounds count superseded postings until the next
  rewrite (the Lucene unmerged-index contract); after
  ``rewrite_pages_index`` it is score-identical to a scratch build.

Reference tie-in: the reference's only refresh is the REPL's full
``:index <dir>`` rebuild (/root/reference/main.py:261-392); this is
the at-scale replacement, with the reference's analyzer, ranking and
tie-breaks preserved end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..indexing.build import term_bucket
from ..indexing.segments import (
    build_segments,
    decode_postings,
    hash_block_span,
)
from ..queries.ranked import (
    empty_topk,
    query_batch_terms,
    query_rank_terms,
    score,
    top_k,
)
from ..queries.wand import wand_topk
from ..sources.snapshots import SnapshotTable, drop_deleted
from ..streaming.ingest import analyze_pages
from .index_pipeline import publish_segments

# Companion table (same root, its own snapshot lineage): (doc_id, url,
# doc_length) per live doc. Its deletes ARE on a table column, so the
# generic snapshot read reconciles it — one 3-column scan gives exact
# corpus scalars per refresh, and url→doc_id identity for consumers.
_DOCSTATS = "docstats"

# Target size of one equality-delete file, in the spirit of Iceberg's
# write.target-file-size-bytes. Delete rows are 8-byte doc_ids, so a
# refresh writes one delete file per table until a delta passes ~64M
# docs.
_DELETE_FILE_BYTES = 512 << 20


def _docstats_table(index_root: str) -> SnapshotTable:
    return SnapshotTable(os.path.join(index_root, _DOCSTATS))


def _delta_artifacts(analyzed: DataFrame, block_span: int
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigram segment rows, biword (term, doc_id) pairs, docstats
    rows) for an analyzed pages batch — ``publish_segments`` adds the
    biword family and the bucket layout."""
    postings = analyzed.select(
        "doc_id",
        F.col("doc_length").cast("int").alias("doc_length"),
        F.explode("postings").alias("tp"),
    ).select(
        F.col("tp.term").alias("term"),
        "doc_id",
        F.size("tp.positions").cast("int").alias("tftd"),
        F.col("tp.positions").alias("positions"),
        "doc_length",
    )
    seg = build_segments(postings, doc_stats=None, block_span=block_span)
    biword = analyzed.select(
        "doc_id", F.explode("biwords").alias("term")
    ).select("term", "doc_id")
    stats = analyzed.select(
        "doc_id", "url", F.col("doc_length").cast("double").alias(
            "doc_length"))
    return seg, biword, stats


def _scalar_props(spark: SparkSession, index_root: str) -> dict:
    row = (
        _docstats_table(index_root).read(spark)
        .agg(F.count("*").alias("n"), F.avg("doc_length").alias("avg"))
        .collect()[0]
    )
    return {"n_docs": int(row["n"]), "avg_doc_length": float(row["avg"])}


def build_pages_index(
    spark: SparkSession,
    pages_root: str,
    index_root: str,
    term_buckets: int = 64,
    block_span: int | None = None,
    pages_version: int | None = None,
) -> int:
    """Initial full build: the pages table's current (or pinned)
    version → segments + biword + docstats, published as version 0 of
    the index table with ``pages_version`` recorded — the watermark
    every later ``refresh_pages_index`` resumes from.  doc_id =
    url-hash (streaming/ingest.py's scheme): dense ranks would
    renumber the corpus on every crawl batch.  ``block_span`` defaults
    to :func:`hash_block_span` of the corpus size (~512 docs/block in
    hash-id space); refresh/merge/rewrite reuse the recorded span."""
    pages = SnapshotTable(pages_root)
    if pages_version is None:
        pages_version = pages.current_version()
    # persist: three downstream actions consume the analyzed frame (the
    # docstats commit, and the postings + biword branches of the index
    # commit) — without it the Arrow analyzer (the expensive stage) and
    # the latest_per_url shuffle re-run once per action (measured 3x
    # build wall at 400k docs). Spills to disk when it outgrows memory;
    # at cluster scale the checkpointed pipeline stages to storage
    # instead.
    # analyze_pages applies latest_per_url itself — no outer call, or
    # the url window shuffle+sort runs twice.
    analyzed = analyze_pages(
        pages.read(spark, version=pages_version)).persist()
    try:
        if block_span is None:
            block_span = hash_block_span(analyzed.count())
        seg, biword, stats = _delta_artifacts(analyzed, block_span)
        _docstats_table(index_root).commit(stats, mode="overwrite",
                                           note=f"pages v{pages_version}")
        return publish_segments(
            spark, index_root, seg, term_buckets, block_span,
            note=f"full build of pages v{pages_version}", biword=biword,
            properties={"pages_version": pages_version,
                        **_scalar_props(spark, index_root)})
    finally:
        analyzed.unpersist()


def refresh_pages_index(
    spark: SparkSession,
    pages_root: str,
    index_root: str,
    pages_version: int | None = None,
) -> int:
    """Fold the pages table's appends since the last indexed version
    into the published index — one row-delta commit, work and bytes
    written both O(delta):

    * incremental scan of the new crawl rows (manifests only),
    * analyze + group ONLY those rows,
    * equality-delete the delta's doc_ids (supersede-by-identity: a
      re-crawled url replaces its old postings; a brand-new url's
      delete matches nothing), re-add in the same commit — the
      sequence-number rule keeps the new rows,
    * docstats companion gets the same delta + deletes, then the
      refreshed corpus scalars are re-aggregated from it (one tiny
      3-column scan) into the index table's properties.

    Returns the new index version (or the current one when the pages
    table hasn't moved)."""
    pages = SnapshotTable(pages_root)
    index = SnapshotTable(index_root)
    props = index.properties()
    from_v = props["pages_version"]
    if pages_version is None:
        pages_version = pages.current_version()
    if pages_version == from_v:
        return index.current_version()

    delta = pages.read_appends(spark, from_v, pages_version)
    # persist: five actions consume the analyzed delta (docstats rows +
    # deletes, index postings/biword branches + deletes) — same
    # recompute hazard as build_pages_index, delta-sized here.
    # (analyze_pages applies latest_per_url itself.)
    analyzed = analyze_pages(delta).persist()
    try:
        seg, biword, stats = _delta_artifacts(analyzed, props["block_span"])
        # Delete rows are 8 bytes each; left at the analyzer's
        # partitioning they fan out into per-partition near-empty files
        # (measured: 33 files for 36 rows) that every merge-on-read
        # scan must open. Size the writers from the appended page rows
        # the pages manifests already count (read_appends spans append
        # snapshots only; an upper bound on the delta's doc_ids).
        delta_rows = (pages.manifest(pages_version)["total_rows"]
                      - pages.manifest(from_v)["total_rows"])
        ids = analyzed.select("doc_id").coalesce(
            max(1, -(-delta_rows * 8 // _DELETE_FILE_BYTES)))
        _docstats_table(index_root).commit(
            stats, deletes=ids, equality_columns=["doc_id"],
            note=f"refresh to pages v{pages_version}")
        return publish_segments(
            spark, index_root, seg, props["term_buckets"],
            props["block_span"], mode="append", biword=biword, deletes=ids,
            note=f"delta refresh pages v{from_v}->v{pages_version}",
            properties={"pages_version": pages_version,
                        **_scalar_props(spark, index_root)})
    finally:
        analyzed.unpersist()


def _published_segments(spark: SparkSession, index_root: str,
                        terms: list[str] | None, version: int | None):
    """(segments planned down to the terms' buckets — carrying ``_seq``
    when the snapshot has deletes —, the snapshot's ``delete_rows`` or
    None, table properties).  Built from manifests alone: no Spark job."""
    tbl = SnapshotTable(index_root)
    props = tbl.properties(version)
    tb = props.get("term_buckets")
    preds = None
    if terms and tb:
        preds = [("bucket", "in", sorted({term_bucket(t, tb) for t in terms}))]
    dele = tbl.delete_rows(spark, version)
    seg = tbl.read(spark, version=version, predicates=preds,
                   apply_deletes=False, with_seq=dele is not None)
    return seg, dele, props


def published_postings(
    spark: SparkSession,
    index_root: str,
    terms: list[str] | None,
    version: int | None = None,
    with_positions: bool = True,
) -> DataFrame:
    """Live decoded postings for a term set from a refreshed snapshot —
    bucket-pruned file planning, then the sequence-number delete rule
    post-decode (the index-table analogue of the snapshot layer's
    generic merge-on-read read)."""
    seg, dele, props = _published_segments(spark, index_root, terms, version)
    postings = decode_postings(
        seg, terms, with_positions=with_positions,
        passthrough=("_seq",) if dele is not None else ())
    if dele is not None:
        postings = drop_deleted(postings, dele).drop("_seq")
    return postings


def _corpus_scalars(props: dict) -> tuple[float, float]:
    """(n_docs, avg_doc_length) from a snapshot's properties — a dict
    lookup, no Spark job.  A table published without corpus scalars
    fails here with the fix, not with a bare ``KeyError: 'n_docs'``."""
    if "n_docs" not in props or "avg_doc_length" not in props:
        raise KeyError(
            "snapshot was published without corpus_stats — republish "
            "with publish_segments(..., corpus_stats=index.corpus_stats)")
    return float(props["n_docs"]), float(props["avg_doc_length"])


def _refreshed_scores(spark: SparkSession, index_root: str,
                      weights: dict, version: int | None) -> DataFrame:
    """Shared scorer over a refreshed snapshot: the bucket-pruned,
    delete-reconciled decode of the queries' terms, with dft counted
    over those live postings in the same pass.  The decode has this one
    consumer, so it runs once without being materialized."""
    scalars = _corpus_scalars(SnapshotTable(index_root).properties(version))
    terms = sorted({t for ts in weights.values() for t in ts})
    postings = published_postings(spark, index_root, terms, version=version,
                                  with_positions=False)
    return score(postings, weights, scalars, "bm25")


def refreshed_topk(
    spark: SparkSession,
    index_root: str,
    query: str,
    k: int = 10,
    normalize=None,
    version: int | None = None,
) -> DataFrame:
    """Exact BM25 top-k from a refreshed snapshot: identical scores,
    rows and tie-breaks to a from-scratch index of the latest crawl
    state.  dft counts LIVE postings (a per-term count over the decoded
    frame — the decode is already paid; this is what upgrades the
    Lucene drift contract to exactness), corpus scalars come from the
    snapshot's properties (maintained from the docstats companion at
    refresh time).  One action: decode → delete reconcile → window dft
    → wqt → broadcast join with the query's (term, mult) rows → score →
    TakeOrderedAndProject."""
    terms = query_rank_terms(query, normalize)
    if not terms:
        return empty_topk(spark)
    return top_k(_refreshed_scores(spark, index_root, {"": terms}, version),
                 k)


def refreshed_topk_batch(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    k: int = 10,
    normalize=None,
    version: int | None = None,
) -> DataFrame:
    """Query-log replay over a refreshed (merge-on-read) snapshot: ALL
    queries share one decode and one scoring plan — a per-query loop
    re-pays file planning + delete reconciliation per query; the batch
    pays them once.

    Returns (query_id, doc_id, score, rank), rank 1..k per query,
    per-query rows identical to :func:`refreshed_topk` (same live-dft
    exactness rule — dft counts live postings after the delete
    reconcile).

    Scale shape: one bucket-pruned decode of the UNION of all query
    terms (delta layers + base, deletes applied once), the shared
    scorer with its per-term window dft, and a per-query window top-k,
    all in one action.
    """
    weights = query_batch_terms(queries, normalize)
    if not weights:
        return empty_topk(spark, per_query=True)
    return top_k(_refreshed_scores(spark, index_root, weights, version), k,
                 per_query=True)


def refreshed_boolean(
    spark: SparkSession,
    index_root: str,
    query: str,
    version: int | None = None,
    normalize=None,
) -> DataFrame:
    """Boolean/phrase/NEAR serving from an index snapshot; returns
    DataFrame(doc_id) in the canonical sorted order, identical to
    ``queries/engine.boolean_query`` over a from-scratch index of the
    same pages, quirks and all.  ``queries/engine.compile_query`` names
    the terms to decode (the biword key alone for a lone two-term
    phrase, main.py:413-418); only their buckets are planned, decoded
    with deletes reconciled (positions only for a phrase or NEAR) and
    answered by one statement, with no checkpoint.  At scale the
    group-by shuffles every decoded posting of every query term once,
    by doc_id (with its positions for a phrase or NEAR), so a rare term
    AND a head term pays for the whole head list.

    Two-term phrases need the snapshot's biword family: the fast path
    has its own semantics (clean adjacency vs the positional merge's
    quirks), so a snapshot without it raises rather than substituting
    one for the other."""
    from ..queries.engine import boolean_query_term, compile_query, compiled_docs
    from ..queries.parser import parse_boolean_query

    node = parse_boolean_query(query)
    if node is None:
        return spark.createDataFrame([], "doc_id long")
    compiled = compile_query(node, normalize or boolean_query_term)
    if compiled.biword and not SnapshotTable(index_root).properties(
            version).get("biword"):
        raise KeyError(
            "two-term phrase queries use the biword fast path, but "
            "this snapshot was published without the biword family")
    return compiled_docs(
        published_postings(spark, index_root, list(compiled.terms),
                           version=version,
                           with_positions=any(compiled.positions)),
        compiled)


def refreshed_wand_topk(
    spark: SparkSession,
    index_root: str,
    query: str,
    k: int = 10,
    normalize=None,
    version: int | None = None,
    champion_blocks: int = 8,
) -> DataFrame:
    """Block-max WAND from a refreshed snapshot (bucket-pruned read +
    the sequence-number delete rule inside the exact-score passes).
    Serves live docs only with exact pruning; absolute scores follow
    the Lucene unmerged-index contract until ``rewrite_pages_index``
    (see queries/wand.wand_topk's deletes note)."""
    seg, dele, props = _published_segments(
        spark, index_root, list(query_rank_terms(query, normalize)), version)
    return wand_topk(_corpus_scalars(props), seg, query, k=k,
                     normalize=normalize, champion_blocks=champion_blocks,
                     deletes=dele)


def maintenance_stats(index_root: str) -> dict:
    """Metadata-only accounting of the merge-on-read debt a refreshed
    index has accumulated since its last base (overwrite) snapshot —
    read from the current manifest alone, no Spark job, no data scan
    (the way Iceberg's maintenance procedures budget a rewrite from
    manifest row counts, not matched-delete counts):

    * ``delta_commits`` — distinct append seqs layered on the base;
      every one is an extra delete layer the read side reconciles.
    * ``delete_rows`` — rows across all live equality-delete files.
      An UPPER bound on superseded docs: each refresh deletes its
      whole delta's doc_ids, and a brand-new url's delete matches
      nothing.
    * ``delete_ratio`` — delete_rows / live docs (properties n_docs).
    * ``data_files`` / ``delete_files`` — live file counts (small-file
      pressure from many delta commits shows up here).
    """
    tbl = SnapshotTable(index_root)
    man = tbl.manifest(tbl.current_version())
    seqs = sorted({f["seq"] for f in man["data_files"]})
    delete_rows = sum(f["rows"] for f in man.get("delete_files", []))
    n_docs = int(man.get("properties", {}).get("n_docs", 0))
    return {
        "version": man["version"],
        "delta_commits": max(0, len(seqs) - 1),
        "data_files": len(man["data_files"]),
        "delete_files": len(man.get("delete_files", [])),
        "delete_rows": delete_rows,
        "live_docs": n_docs,
        "delete_ratio": delete_rows / n_docs if n_docs else 0.0,
    }


def maybe_rewrite_pages_index(
    spark: SparkSession,
    index_root: str,
    max_delete_ratio: float = 0.2,
    max_delta_commits: int = 8,
) -> tuple[bool, int, dict]:
    """Run the major compaction only when the accumulated
    merge-on-read debt crosses a threshold — the maintenance policy a
    scheduled crawl-refresh job calls after every refresh (Iceberg's
    rewrite_data_files-on-delete-ratio economics: a rewrite costs a
    full live-postings pass, so it must be amortized over many O(delta)
    refreshes).  Thresholds are metadata-only (``maintenance_stats``);
    defaults compact when superseded-or-new doc deletes exceed 20% of
    live docs or more than 8 delta layers have stacked up — past
    either, per-read reconcile work (one scan per layer, and a broadcast
    anti-join whose build side holds every delete row) and WAND's
    stale-bound slack stop being cheap.

    Returns ``(compacted, current_version, stats_before)``.
    """
    stats = maintenance_stats(index_root)
    if (stats["delete_ratio"] > max_delete_ratio
            or stats["delta_commits"] > max_delta_commits):
        return True, rewrite_pages_index(spark, index_root), stats
    return False, stats["version"], stats


def rewrite_pages_index(spark: SparkSession, index_root: str,
                        block_span: int | None = None) -> int:
    """Major compaction of a refreshed index (Lucene forceMerge /
    Iceberg rewrite): decode the live postings (deletes applied),
    rebuild clean segments, publish as an overwrite snapshot — after
    which WAND metadata is exact again and reads are single-layer.
    The docstats companion is rewritten with the generic
    ``rewrite_deletes``.  Readers pinned to pre-rewrite versions keep
    the merge-on-read view (time travel is unaffected)."""
    index = SnapshotTable(index_root)
    props = index.properties()
    if block_span is None:
        # Re-derive the span for the corpus the table holds NOW — the
        # one moment re-blocking is free (everything is decoded and
        # regrouped anyway). Properties carry the new span forward.
        block_span = hash_block_span(int(props["n_docs"]))
    live = published_postings(spark, index_root, terms=None,
                              with_positions=True)
    _docstats_table(index_root).rewrite_deletes(spark)
    # the decoded postings carry the biword rows; the table keeps its
    # ``biword`` property from the parent commit
    return publish_segments(
        spark, index_root,
        build_segments(live, doc_stats=None, block_span=block_span),
        props["term_buckets"], block_span,
        note=f"rewrite (major compaction) at pages v{props['pages_version']}",
        properties={**_scalar_props(spark, index_root),
                    "pages_version": props["pages_version"]})
