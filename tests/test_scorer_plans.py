"""Physical-plan contracts of the ranked entry points that share the
scorer (queries/ranked.score / top_k), asserted on the executed plans:

* a single query selects with TakeOrderedAndProject, never a global Sort;
* a query batch selects with WindowGroupLimit (partial top-k per query);
* no plan scans a Python-built RDD — query weights are literals; the only
  RDD scan allowed is refreshed_boolean's eager localCheckpoint;
* driver-known query weights are an inline (term, query_id, mult) table,
  the build side of a broadcast hash join on term: no Generate fans the
  postings out to their queries;
* no ranked scan reads a positions column;
* refreshed_topk and refreshed_topk_batch take no checkpoint: each
  segment scan sits under exactly one decode, and dft is one window
  partitioned by term over that decode;
* refreshed_boolean decodes its postings once: each segment scan is
  decoded once inside the one checkpointed frame, and the evaluation
  plan reads only the checkpoint;
* a term lookup on a published index table scans only the files the
  manifest keeps for the term's bucket, and pushes the term and bucket
  predicates into the Parquet scan;
* a segment merge streams the base through broadcast joins only, and its
  cold (untouched) groups pass through with no Exchange;
* a diversified top-k picks each cluster's best doc with a partial and a
  final aggregate of max(struct(score, doc_id)), never a window keyed by
  cluster, and ends in TakeOrderedAndProject;
* the ranked, batch, AND/OR boolean and segment-build plans start no
  Python worker (no ArrowEvalPythonExec or BatchEvalPythonExec): segments
  are Parquet arrays decoded by a JVM explode;
* the delete side of a merge-on-read read is planned from manifests:
  building it starts no Spark job, and its broadcast holds no aggregate
  and no shuffle.

It also checks that query ids and terms holding a quote, a backslash or
a brace survive their trip through the scorer's SQL literal text, and
that building and collecting a ranked query over a published table takes
few py4j round trips and Spark jobs.
"""

from __future__ import annotations

import math
import re
import threading

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.indexing.build import SparkIndex, term_bucket
from searchengine_spark.indexing.fielded import build_fielded_index, rank_topk_fielded
from searchengine_spark.indexing.segments import build_segments, merge_segments
from searchengine_spark.indexing.simple import build_simple_index, simple_query_term
from searchengine_spark.pipeline import refresh as R
from searchengine_spark.pipeline.index_pipeline import publish_segments
from searchengine_spark.queries.diversify import rank_topk_diverse
from searchengine_spark.queries.ranked import (
    champion_lists,
    rank_topk,
    rank_topk_batch,
    rank_topk_champions,
    score,
)
from searchengine_spark.sources.snapshots import SnapshotTable
from searchengine_spark.sqltext import sql_map

SF_DIR = "/root/testdata/sf0.01"
QUERY = "table scan merge"
BATCH = {"qa": "table scan", "qb": "merge join", "qc": "table join"}
CRAWL_QUERY = "the crawl"
CRAWL_BATCH = {"q0": "the crawl", "q1": "page body", "q2": "crawl body"}


def _nodes(plan, skip: tuple = ()) -> list:
    """Every node of a physical plan, descending into AQE query stages,
    reused exchanges and subqueries — except the subtrees of the node
    classes named in ``skip``."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name in skip:
            continue
        out.append(node)
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return out


def _executed(df: DataFrame) -> list:
    """Collect ``df`` (non-empty), then return its final plan's nodes."""
    assert df.collect(), "plan contract needs a query with results"
    return _nodes(df._jdf.queryExecution().executedPlan())


def _names(nodes) -> list[str]:
    return [n.getClass().getSimpleName() for n in nodes]


def _check_common(nodes) -> None:
    names = _names(nodes)
    for node, name in zip(nodes, names):
        if name == "RDDScanExec":
            assert node.rdd().isCheckpointed(), \
                "plan scans a Python-built RDD (createDataFrame of a list)"
        if name == "FileSourceScanExec":
            schema = node.requiredSchema().simpleString()
            assert "positions" not in schema, schema
        if name == "SortExec":
            assert not getattr(node, "global")(), "global Sort in plan"


def _broadcast_fan_out(nodes) -> None:
    """The query weights reach the postings through a broadcast hash
    join with an inline table; the only Generates are segment decodes."""
    assert all(_is_decode(n) for n in nodes
               if n.getClass().getSimpleName() == "GenerateExec")
    builds = [_names(_nodes(n)) for n in nodes
              if n.getClass().getSimpleName() == "BroadcastExchangeExec"]
    assert any("LocalTableScanExec" in b for b in builds), builds


def _single(df: DataFrame) -> list:
    nodes = _executed(df)
    _check_common(nodes)
    assert "TakeOrderedAndProjectExec" in _names(nodes)
    return nodes


def _batch(df: DataFrame) -> list:
    nodes = _executed(df)
    _check_common(nodes)
    assert "WindowGroupLimitExec" in _names(nodes)
    return nodes


def _is_decode(node) -> bool:
    """A posting decode: the Generate that explodes the segment arrays."""
    return (node.getClass().getSimpleName() == "GenerateExec"
            and "doc_ids" in node.generator().toString())


def _is_segment_scan(node) -> bool:
    return (node.getClass().getSimpleName() == "FileSourceScanExec"
            and "doc_ids" in node.requiredSchema().simpleString())


def _decoded_scans(nodes) -> tuple[list[int], list[int]]:
    """(plan ids of the segment scans below each decode — a scan under
    two decodes counts twice —, plan ids of every segment scan).  Equal
    lists mean each segment scan is decoded exactly once; one decode may
    cover several snapshot layers' scans through their union."""
    under = sorted(s.id() for n in nodes if _is_decode(n)
                   for s in _nodes(n) if _is_segment_scan(s))
    return under, sorted(n.id() for n in nodes if _is_segment_scan(n))


def _no_python(nodes) -> None:
    python = [name for name in _names(nodes)
              if "Python" in name or "Pandas" in name]
    assert not python, python


def _window_keys(node) -> list[str]:
    """The partition keys of a WindowExec, without expression ids."""
    spec = node.partitionSpec()
    return [spec.apply(i).toString().split("#")[0]
            for i in range(spec.size())]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def pidx(spark, docs, tmp_path_factory):
    """The sf0.01 simple index with its postings and doc_stats written
    to Parquet, so ranked reads are file scans whose read schema the
    contract can inspect."""
    path = tmp_path_factory.mktemp("plan_idx")
    idx = build_simple_index(docs)
    idx.postings.write.parquet(str(path / "postings"))
    idx.doc_stats.write.parquet(str(path / "doc_stats"))
    return SparkIndex(spark.read.parquet(str(path / "postings")),
                      spark.read.parquet(str(path / "doc_stats")),
                      idx.corpus_stats, idx.biword)


@pytest.fixture(scope="module")
def published(spark, docs, tmp_path_factory, uncoalesced):
    """The sf0.01 simple index's segments published as an index table
    (16 term buckets, block span 64, with its corpus scalars), one file
    per range partition."""
    root = str(tmp_path_factory.mktemp("plan_published"))
    idx = build_simple_index(docs)
    with uncoalesced():
        publish_segments(spark, root,
                         build_segments(idx.postings, idx.doc_stats,
                                        block_span=64),
                         term_buckets=16, block_span=64,
                         corpus_stats=idx.corpus_stats)
    return root


@pytest.fixture(scope="module")
def refreshed(spark, tmp_path_factory):
    """A merge-on-read index: a full build, then one delta refresh
    carrying re-crawls, so reads reconcile deletes."""
    from searchengine_spark.corpus import pages_df
    from searchengine_spark.sources.snapshots import SnapshotTable

    root = tmp_path_factory.mktemp("plan_refresh")
    pr, ir = str(root / "pages"), str(root / "idx")
    pages = SnapshotTable(pr)
    base = pages_df(spark, 300, seed=42, partitions=4).cache()
    pages.commit(base, mode="overwrite")
    R.build_pages_index(spark, pr, ir, term_buckets=16)
    recrawl = (
        base.limit(20)
        .withColumn("text", F.concat("text", F.lit(" refreshed crawl")))
        .withColumn("html", F.col("text").cast("binary"))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 10 days"))
    )
    pages.commit(recrawl)
    R.refresh_pages_index(spark, pr, ir)
    base.unpersist()
    return ir


@pytest.fixture(scope="module")
def refreshed_twice(spark, tmp_path_factory):
    """A merge-on-read index whose deletes come from two refresh
    commits (20, then 10 re-crawled pages)."""
    from searchengine_spark.corpus import pages_df

    root = tmp_path_factory.mktemp("plan_refresh_twice")
    pr, ir = str(root / "pages"), str(root / "idx")
    pages = SnapshotTable(pr)
    base = pages_df(spark, 300, seed=7, partitions=4).cache()
    pages.commit(base, mode="overwrite")
    R.build_pages_index(spark, pr, ir, term_buckets=16)
    for days, n in ((10, 20), (20, 10)):
        pages.commit(
            base.limit(n)
            .withColumn("text", F.concat("text", F.lit(" refreshed crawl")))
            .withColumn("html", F.col("text").cast("binary"))
            .withColumn("warc_ts",
                        F.col("warc_ts") + F.expr(f"interval {days} days")))
        R.refresh_pages_index(spark, pr, ir)
    base.unpersist()
    tbl = SnapshotTable(ir)
    deletes = tbl.manifest(tbl.current_version())["delete_files"]
    assert len({f["seq"] for f in deletes}) == 2
    return ir


def test_rank_topk_plan(pidx):
    _broadcast_fan_out(_single(rank_topk(pidx, QUERY, "bm25", 10,
                                         normalize=simple_query_term)))


def test_rank_topk_batch_plan(pidx):
    _broadcast_fan_out(_batch(rank_topk_batch(pidx, BATCH, "bm25", 10,
                                              normalize=simple_query_term)))


def test_rank_topk_champions_plan(pidx):
    champs = champion_lists(pidx, r=32)
    _single(rank_topk_champions(pidx, champs, QUERY, "bm25", 10,
                                normalize=simple_query_term))


def test_rank_topk_fielded_plan(docs):
    fidx = build_fielded_index(
        docs.withColumn("title", F.concat(F.lit("doc "), F.col("doc_id"))),
        {"title": 2.0, "text": 1.0},
    )
    _single(rank_topk_fielded(fidx, QUERY, 10, normalize=simple_query_term))


def test_rank_topk_diverse_plan(spark, pidx):
    clusters = spark.range(1, 3).select(
        F.col("id").alias("doc_id"), F.lit(1).cast("long").alias("cluster_id"))
    nodes = _single(rank_topk_diverse(pidx, "table scan", clusters, "bm25",
                                      10, normalize=simple_query_term))
    names = [n for n in _names(nodes) if n != "ResultQueryStageExec"]
    assert names[0] == "TakeOrderedAndProjectExec", names
    # Spark plans max over a struct as a SortAggregate (a hash buffer
    # cannot hold a struct); either way it is split map-side
    best = [n for n in nodes if n.getClass().getSimpleName().endswith(
        "AggregateExec") and "max(struct(score" in n.toString()]
    modes = sorted(n.aggregateExpressions().apply(0).mode().toString()
                   for n in best)
    assert modes == ["Final", "Partial"], modes
    for n in best:
        assert n.groupingExpressions().apply(0).toString().startswith(
            "cluster_id")
    windows = [_window_keys(n) for n in nodes
               if n.getClass().getSimpleName() == "WindowExec"]
    assert not [w for w in windows if "cluster_id" in w], windows


def test_term_lookup_prunes_bucket_and_pushes_term(spark, published):
    bucket = term_bucket("table", 16)
    plan = SnapshotTable(published).plan_files([("bucket", "in", [bucket])])
    assert plan["skipped_files"] > 0, plan
    looked_up = R.published_postings(spark, published, ["table"])
    nodes = _executed(looked_up)
    scans = [n for n in nodes
             if n.getClass().getSimpleName() == "FileSourceScanExec"]
    assert len(scans) == 1
    pushed = scans[0].metadata().apply("PushedFilters")
    assert "EqualTo(term,table)" in pushed, pushed
    assert re.search(
        rf"EqualTo\(bucket,{bucket}\)|In\(bucket, \[{bucket}\]\)",
        pushed), pushed
    scanned = {f.split(published, 1)[1].lstrip("/")
               for f in looked_up.inputFiles()}
    assert scanned == set(plan["kept_paths"])


# the build side of a broadcast join is a delta-sized frame
_BROADCAST = ("BroadcastExchangeExec", "BroadcastQueryStageExec")


def test_merge_segments_plan_streams_cold_groups(spark, docs, published):
    base = SnapshotTable(published).read(spark)
    # re-crawls inside block 0 only: every group of a later block is cold
    assert base.filter(F.col("block") > 0).count() > 0
    in_block0 = (F.col("doc_id") < 64) & (F.col("doc_id") % 7 == 0)
    recrawl = docs.filter(in_block0).select(
        "doc_id", F.concat("text", F.lit(" refresh")).alias("text"))
    didx = build_simple_index(recrawl)
    merged = merge_segments(
        base, build_segments(didx.postings, didx.doc_stats, block_span=64),
        superseded=recrawl.select("doc_id"), block_span=64)
    nodes = _executed(merged)
    joins = {n for n in _names(nodes) if "Join" in n}
    assert joins and all(n.startswith("Broadcast") for n in joins), joins
    union = next(n for n in _nodes(nodes[0], skip=_BROADCAST)
                 if n.getClass().getSimpleName() == "UnionExec")
    children = [_nodes(union.children().apply(i), skip=_BROADCAST)
                for i in range(union.children().size())]
    cold = [c for c in children
            if any(_is_segment_scan(n) for n in c)
            and not any(_is_decode(n) for n in c)]
    assert len(cold) == 1
    assert not [n for n in _names(cold[0]) if "Exchange" in n
                or "Shuffle" in n], _names(cold[0])


def test_build_segments_plan_has_no_python(pidx):
    nodes = _executed(build_segments(pidx.postings, pidx.doc_stats))
    _no_python(nodes)


def _checkpoint_plans(spark, monkeypatch) -> list:
    """Record the plan nodes of every frame checkpointed from now on."""
    seen = []
    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(_nodes(self._jdf.queryExecution().executedPlan()))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return seen


def _live_ranked(nodes) -> None:
    """The checkpoint-free ranked serving shape: each snapshot layer's
    segment scan (base + delta) decoded once, dft one window over the
    term, and no checkpoint or Python worker."""
    assert "RDDScanExec" not in _names(nodes)
    under, scans = _decoded_scans(nodes)
    assert under == scans and len(scans) >= 2
    windows = [_window_keys(n) for n in nodes
               if n.getClass().getSimpleName() == "WindowExec"]
    assert windows.count(["term"]) == 1, windows
    _broadcast_fan_out(nodes)
    _no_python(nodes)


def test_refreshed_topk_plan_decodes_once(spark, refreshed):
    _live_ranked(_single(R.refreshed_topk(spark, refreshed, CRAWL_QUERY,
                                          k=10)))


def test_refreshed_topk_batch_plan(spark, refreshed):
    _live_ranked(_batch(R.refreshed_topk_batch(spark, refreshed,
                                               CRAWL_BATCH, k=10)))


def test_refreshed_topk_round_trips(spark, published, monkeypatch):
    """Building and collecting one ranked query over a delete-free
    published table: fewer than 100 py4j round trips, at most 4 jobs —
    the broadcast of the query's weight table, the dft window's and the
    aggregate's shuffles, and the top-k result stage."""
    import py4j.clientserver as cs

    calls = []
    real = cs.ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(conn, command):
        # py4j's finalizer thread sends the JVM-reference deletes of
        # earlier, collected objects; only this thread's calls count
        if threading.get_ident() == caller:
            calls.append(command)
        return real(conn, command)

    def query():
        return R.refreshed_topk(spark, published, QUERY, k=10,
                                normalize=simple_query_term)

    query().collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("ranked-round-trips", "one ranked query")
    try:
        monkeypatch.setattr(cs.ClientServerConnection, "send_command",
                            counting)
        rows = query().collect()
        monkeypatch.undo()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(calls) < 100, len(calls)
    jobs = sc.statusTracker().getJobIdsForGroup("ranked-round-trips")
    assert 1 <= len(jobs) <= 4, list(jobs)


@pytest.mark.parametrize("query", ["refreshed crawl", "refreshed + page"])
def test_refreshed_boolean_and_or_plan_has_no_python(spark, refreshed, query,
                                                     monkeypatch):
    checkpointed = _checkpoint_plans(spark, monkeypatch)
    nodes = _executed(R.refreshed_boolean(spark, refreshed, query))
    assert len(checkpointed) == 1
    # each snapshot layer's scan (base + delta) is decoded once, all
    # inside the checkpoint; the evaluation plan only reads the checkpoint
    under, scans = _decoded_scans(checkpointed[0])
    assert under == scans and len(scans) >= 2
    assert _decoded_scans(nodes) == ([], [])
    assert not any(_is_decode(n) for n in nodes)
    _no_python(checkpointed[0])
    _no_python(nodes)


def test_literal_weights_keep_quotes_and_backslashes(spark):
    terms = ["it's", "a\\b", "x'\\'y", "a{b", "x}"]
    keys = spark.range(1).select(
        F.explode(F.expr(sql_map({t: 1 for t in terms})))).collect()
    assert sorted(r["key"] for r in keys) == sorted(terms)

    postings = spark.createDataFrame(
        [(t, d, d + 1, 10) for d, t in enumerate(terms)],
        "term string, doc_id long, tftd int, doc_length int")
    qid = "q'\\1"
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in score(
        postings, {qid: {t: 2 for t in terms}}, (10.0, 10.0)).collect()}
    wqt = math.log((10 - 1 + 0.5) / (1 + 0.5))
    want = {(qid, d): 2 * wqt * 2.2 * (d + 1) / (1.2 + d + 1)
            for d in range(len(terms))}
    assert got.keys() == want.keys()
    for key, v in want.items():
        assert got[key] == pytest.approx(v, rel=1e-12)


def test_delete_rows_start_no_job(spark, refreshed_twice):
    sc = spark.sparkContext
    sc.setJobGroup("delete-rows-plan", "build the delete side")
    try:
        dele = SnapshotTable(refreshed_twice).delete_rows(spark)
        R._published_segments(spark, refreshed_twice, ["crawl"], None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "delete-rows-plan")) == []
    assert dele is not None and dele.count() == 30


def test_refreshed_topk_delete_broadcast_has_no_aggregate(
        spark, refreshed_twice):
    nodes = _single(R.refreshed_topk(spark, refreshed_twice, CRAWL_QUERY,
                                     k=10))
    delete_sides = []
    for node in nodes:
        if node.getClass().getSimpleName() != "BroadcastExchangeExec":
            continue
        side = _nodes(node)
        if any(n.getClass().getSimpleName() == "FileSourceScanExec"
               and "/deletes" in n.relation().location().rootPaths()
               .mkString(",") for n in side):
            delete_sides.append(_names(side))
    assert len(delete_sides) == 1
    assert not {"HashAggregateExec", "ShuffleExchangeExec"} \
        & set(delete_sides[0]), delete_sides[0]


def test_refresh_writes_one_delete_file_per_commit(refreshed_twice):
    for tbl in (SnapshotTable(refreshed_twice),
                R._docstats_table(refreshed_twice)):
        deletes = tbl.manifest(tbl.current_version())["delete_files"]
        assert sorted(f["seq"] for f in deletes) == [1, 2], deletes
