"""Segments (Parquet arrays, block-split), the VB codec and block-max
WAND tests.

Correctness contracts:
* codec roundtrip (property-style over seeded random arrays);
* segments decode == uncompressed postings (full equality);
* WAND top-k == unpruned rank_topk BM25 top-k (rank-identical with the
  (score desc, doc_id desc) tie-break) — pruning must be lossless.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.indexing.build import build_index
from searchengine_spark.indexing.segments import (
    build_segments,
    decode_postings,
)
from searchengine_spark.indexing.vb import (
    delta_decode,
    delta_encode,
    vb_decode,
    vb_encode,
)
from searchengine_spark.queries.ranked import rank_topk
from searchengine_spark.queries.wand import wand_topk


def test_vb_roundtrip_random():
    rng = np.random.default_rng(7)
    for _ in range(100):
        n = int(rng.integers(0, 60))
        vals = rng.integers(0, 1 << int(rng.integers(1, 40)), size=n)
        assert (vb_decode(vb_encode(vals)) == vals).all()


def test_vb_reference_convention():
    # final byte of each number is +128 (diskindexwriter.py:9-17)
    assert vb_encode([5]) == bytes([5 + 128])
    assert vb_encode([300]) == bytes([300 // 128, 300 % 128 + 128])
    assert list(vb_decode(bytes([2, 44 + 128]))) == [300]


def test_delta_roundtrip():
    arr = np.array([3, 7, 7 + 100, 500, 501])
    assert (delta_decode(delta_encode(arr)) == arr).all()


@pytest.fixture(scope="module")
def corpus_index(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(docs).cache()
    idx.postings.count()
    return idx


def test_segments_roundtrip(spark, corpus_index):
    idx = corpus_index
    seg = build_segments(idx.postings, idx.doc_stats, block_span=64)
    terms = ["tabl", "scan", "dup"]
    decoded = decode_postings(seg, terms).select(
        "term", "doc_id", "tftd", "positions"
    )
    orig = idx.postings.filter(F.col("term").isin(terms)).select(
        "term", "doc_id", "tftd", "positions"
    )
    d = {(r["term"], r["doc_id"]): (r["tftd"], list(r["positions"]))
         for r in decoded.collect()}
    o = {(r["term"], r["doc_id"]): (r["tftd"], list(r["positions"]))
         for r in orig.collect()}
    assert d == o and len(d) > 0


def test_segments_block_split(spark, corpus_index):
    idx = corpus_index
    seg = build_segments(idx.postings, idx.doc_stats, block_span=64)
    rows = seg.filter(F.col("term") == "tabl").collect()
    # 500 docs / span 64 → multiple blocks for a head term
    assert len(rows) >= 2
    for r in rows:
        assert r["df_block"] <= 64
        assert r["max_tftd"] >= 1


def test_decode_refuses_vb_format_segments(spark):
    """A table written in the retired VB format (``*_vb`` binaries) must
    be rebuilt, not misread."""
    vb_seg = spark.createDataFrame(
        [("scan", 0, bytes([129]), bytes([129]), bytes([130]))],
        "term string, block long, docids_vb binary, tftds_vb binary, "
        "doc_lengths_vb binary")
    with pytest.raises(ValueError, match="rebuild"):
        decode_postings(vb_seg, ["scan"])


@pytest.mark.parametrize("with_positions", [True, False])
@pytest.mark.parametrize("doc_lengths", [
    "cast(null as array<int>)",
    "slice(doc_lengths, 1, 1)",
])
def test_decode_fails_on_missing_doc_lengths(spark, corpus_index,
                                             with_positions, doc_lengths):
    """Null or short doc_lengths raise instead of zero-filling, which
    would silently inflate BM25 wdt."""
    seg = build_segments(corpus_index.postings, corpus_index.doc_stats,
                         block_span=64).filter(F.col("df_block") > 1)
    broken = seg.withColumn("doc_lengths", F.expr(doc_lengths))
    with pytest.raises(Exception, match="missing doc_lengths"):
        decode_postings(broken, ["tabl"],
                        with_positions=with_positions).collect()


@pytest.mark.parametrize("query", ["table scan merge", "dup stream", "camping"])
def test_wand_matches_unpruned_bm25(spark, corpus_index, query):
    idx = corpus_index
    seg = build_segments(idx.postings, idx.doc_stats, block_span=64)
    expected = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_topk(idx, query, "bm25", 10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(idx.corpus_scalars(), seg, query, 10,
                             champion_blocks=2).collect()
    ]
    assert got == expected


def test_wand_prunes_blocks(spark, corpus_index):
    """θ from the champion pass must actually drop low-UB blocks for a
    selective query on this corpus (sanity that pruning engages)."""
    idx = corpus_index
    seg = build_segments(idx.postings, idx.doc_stats, block_span=16)
    # rare term 'dup' + head term: k=1 forces a high θ
    top = wand_topk(idx.corpus_scalars(), seg, "dup", 1,
                    champion_blocks=4).collect()
    assert len(top) == 1


def test_block_split_bounds_head_term_groups(spark):
    """The north-rule skew contract: a Zipf head term appearing in EVERY
    doc must split into bounded (term, block) groups — no group larger
    than block_span, block count = ceil(n_docs / span). This is what
    makes 'the' at 10^12 docs ~10^8 independent bounded groups instead
    of one straggler reducer."""
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.segments import build_segments
    from searchengine_spark.indexing.simple import build_simple_index

    n, span = 3000, 128
    docs = spark.createDataFrame(
        [(i, f"the filler{i} words{i}") for i in range(n)],
        "doc_id long, text string",
    )
    idx = build_simple_index(docs)
    seg = build_segments(idx.postings, idx.doc_stats, block_span=span)
    head = seg.filter(F.col("term") == "the")
    stats = head.agg(
        F.count("*").alias("n_blocks"),
        F.max("df_block").alias("max_group"),
        F.sum("df_block").alias("total"),
    ).collect()[0]
    assert stats["total"] == n
    assert stats["max_group"] <= span
    assert stats["n_blocks"] == (n + span - 1) // span


# ---------------------------------------------------------------------------
# Segment merge (Lucene-style incremental maintenance)
# ---------------------------------------------------------------------------


def _seg_rows(df):
    """Canonical byte-level view of a segment frame: sorted tuples with
    binary columns normalized to bytes — equality here is bit-identity."""
    from searchengine_spark.indexing.segments import SEG_COLS

    rows = []
    for r in df.select(*SEG_COLS).collect():
        rows.append(tuple(
            bytes(v) if isinstance(v, (bytearray, bytes)) else v
            for v in r
        ))
    return sorted(rows)


def _simple_segments(docs, span=64):
    from searchengine_spark.indexing.segments import build_segments
    from searchengine_spark.indexing.simple import build_simple_index

    idx = build_simple_index(docs)
    return build_segments(idx.postings, idx.doc_stats, block_span=span)


@pytest.fixture(scope="module")
def small_docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").cache()


def test_merge_append_equals_scratch_build(spark, small_docs):
    """Appending a crawl batch with fresh doc_ids: merged segments must
    be BIT-identical to a from-scratch build of the union corpus (cold
    groups pass through as raw bytes; hot boundary groups re-encode
    deterministically)."""
    from searchengine_spark.indexing.segments import merge_segments

    base_docs = small_docs
    delta_docs = small_docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("fresh batch "), "text").alias("text"),
    )
    merged = merge_segments(
        _simple_segments(base_docs), _simple_segments(delta_docs),
        superseded=None, block_span=64,
    )
    scratch = _simple_segments(base_docs.unionByName(delta_docs))
    assert _seg_rows(merged) == _seg_rows(scratch)


def test_merge_recrawl_supersedes_old_postings(spark, small_docs):
    """Re-crawling every 5th doc with CHANGED text: the merge must drop
    every stale posting (including terms the new text no longer
    contains) and equal a scratch build of the post-re-crawl corpus."""
    from searchengine_spark.indexing.segments import merge_segments

    recrawled = small_docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        # replace (not append) so some old terms vanish entirely
        F.concat(F.lit("recrawl only "), F.substring("text", 1, 40)).alias("text"),
    )
    merged = merge_segments(
        _simple_segments(small_docs), _simple_segments(recrawled),
        superseded=recrawled.select("doc_id"), block_span=64,
    )
    updated = small_docs.filter(F.col("doc_id") % 5 != 0).unionByName(recrawled)
    scratch = _simple_segments(updated)
    assert _seg_rows(merged) == _seg_rows(scratch)


def test_merge_empty_delta_is_passthrough(spark, small_docs):
    """An empty delta leaves every base group byte-untouched."""
    from searchengine_spark.indexing.segments import merge_segments

    base = _simple_segments(small_docs)
    merged = merge_segments(base, base.limit(0), superseded=None, block_span=64)
    assert _seg_rows(merged) == _seg_rows(base)


def test_merge_preserves_biword_family(spark, small_docs):
    """A segment table that also carries the biword family
    (indexing/segments.biword_as_segments — space-containing keys, no
    discriminator column) must survive a merge: merging base+delta with
    BOTH families equals a scratch encode of the union of both
    families, bit for bit. This is what keeps the published boolean
    fast path correct across incremental maintenance."""
    from searchengine_spark.indexing.segments import (
        biword_as_segments,
        merge_segments,
    )
    from searchengine_spark.indexing.simple import build_simple_index

    def with_biword(docs):
        idx = build_simple_index(docs)
        from searchengine_spark.indexing.segments import build_segments

        return build_segments(idx.postings, idx.doc_stats, block_span=64) \
            .unionByName(biword_as_segments(idx.biword, block_span=64))

    base_docs = small_docs
    delta_docs = small_docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("fresh batch "), "text").alias("text"),
    )
    merged = merge_segments(with_biword(base_docs), with_biword(delta_docs),
                            superseded=None, block_span=64)
    scratch = with_biword(base_docs.unionByName(delta_docs))
    assert _seg_rows(merged) == _seg_rows(scratch)
    # both families actually present in the merged set
    fams = merged.select(
        F.contains(F.col("term"), F.lit(" ")).alias("bw")
    ).distinct().collect()
    assert {r.bw for r in fams} == {True, False}
