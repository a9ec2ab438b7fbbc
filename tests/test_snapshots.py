"""Snapshot table (Iceberg stand-in): commit/append file reuse, time
travel, rollback, tags, crash invisibility, and file-refcounted expiry."""

import os

import pytest
from pyspark.sql import Row, functions as F

from searchengine_spark.sources.snapshots import SnapshotTable


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(lo, hi)])


@pytest.fixture
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def test_commit_read_roundtrip(spark, table):
    v0 = table.commit(_docs(spark, 0, 10), note="initial")
    assert v0 == 0
    got = table.read(spark)
    assert sorted(r.doc_id for r in got.collect()) == list(range(10))
    assert table.manifest(0)["note"] == "initial"
    assert table.manifest(0)["total_rows"] == 10


def test_append_reuses_parent_files(spark, table):
    table.commit(_docs(spark, 0, 10))
    v1 = table.commit(_docs(spark, 10, 15), mode="append")
    m0, m1 = table.manifest(0), table.manifest(v1)
    # Parent files referenced, not rewritten: v1's list is a superset.
    assert {f["path"] for f in m0["data_files"]} < \
           {f["path"] for f in m1["data_files"]}
    assert m1["total_rows"] == 15
    # Only the delta lives under v1's own dir.
    own = [f for f in m1["data_files"]
           if f["path"].startswith("snap-000001/")]
    assert sum(f["rows"] for f in own) == 5
    assert table.read(spark).count() == 15


def test_time_travel_and_tags(spark, table):
    table.commit(_docs(spark, 0, 10))
    table.tag("baseline")
    table.commit(_docs(spark, 10, 15), mode="append")
    table.commit(_docs(spark, 100, 103), mode="overwrite")
    assert table.read(spark).count() == 3
    assert table.read(spark, version=1).count() == 15
    assert table.read(spark, version=0).count() == 10
    assert table.read(spark, tag="baseline").count() == 10
    with pytest.raises(KeyError):
        table.read(spark, tag="nope")


def test_rollback_is_metadata_only_and_new_commits_fork(spark, table):
    table.commit(_docs(spark, 0, 10))
    table.commit(_docs(spark, 10, 15), mode="append")
    table.rollback(0)
    assert table.read(spark).count() == 10
    # Commit after rollback allocates a fresh id (v1 still readable).
    v2 = table.commit(_docs(spark, 20, 22), mode="append")
    assert v2 == 2
    assert table.manifest(v2)["parent"] == 0
    assert table.read(spark).count() == 12
    assert table.read(spark, version=1).count() == 15


def test_append_schema_mismatch_fails_loudly(spark, table):
    table.commit(_docs(spark, 0, 5))
    # A type change is never evolution.
    other = _docs(spark, 5, 6).withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    with pytest.raises(ValueError, match="schema"):
        table.commit(other, mode="append")
    table.commit(other, mode="overwrite")  # redefining is explicit
    assert dict(table.read(spark).dtypes)["doc_id"] == "string"


def test_append_additive_schema_evolution(spark, table):
    """Iceberg add-column: appending with a superset schema widens the
    table; old files read the new nullable column as null; time travel
    to the pre-evolution snapshot keeps the old schema."""
    table.commit(_docs(spark, 0, 5))
    widened = _docs(spark, 5, 8).withColumn(
        "lang", F.when(F.col("doc_id") >= 0, F.lit("en")))  # nullable
    table.commit(widened, mode="append")
    got = table.read(spark).orderBy("doc_id").collect()
    assert [r.lang for r in got] == [None] * 5 + ["en"] * 3
    assert "lang" not in table.read(spark, version=0).columns
    # A non-nullable addition is rejected (old rows can't satisfy it).
    bad = _docs(spark, 8, 9).withColumn("site", F.lit("x"))
    with pytest.raises(ValueError, match="schema"):
        table.commit(bad, mode="append")


def test_crashed_commit_is_invisible_and_reclaimed(spark, table):
    table.commit(_docs(spark, 0, 10))
    # Simulate a crash after data write, before manifest+pointer: a
    # version dir with data but no manifest.
    orphan = os.path.join(table.root, "snap-000001", "data")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as fh:
        fh.write("not really parquet")
    assert table.current_version() == 0
    assert [m["version"] for m in table.history()] == [0]
    v1 = table.commit(_docs(spark, 10, 12), mode="append")
    assert v1 == 1  # orphan reclaimed, same slot reused
    assert table.read(spark).count() == 12


def test_reader_pinned_against_concurrent_overwrite(spark, table):
    table.commit(_docs(spark, 0, 10))
    df = table.read(spark)  # resolved to v0's immutable file list
    table.commit(_docs(spark, 100, 101), mode="overwrite")
    assert df.count() == 10  # unaffected by the new snapshot


def test_expire_refcounts_shared_files(spark, table):
    table.commit(_docs(spark, 0, 10))
    table.commit(_docs(spark, 10, 15), mode="append")
    table.commit(_docs(spark, 15, 18), mode="append")
    res = table.expire_snapshots(keep_last=1)
    assert res["dropped_snapshots"] == [0, 1]
    # v0/v1 files are shared with the retained v2 → nothing deleted.
    assert res["dropped_files"] == 0
    assert table.read(spark).count() == 18
    with pytest.raises(FileNotFoundError):
        table.read(spark, version=0)
    # History now only shows the retained snapshot.
    assert [m["version"] for m in table.history()] == [2]


def test_expire_deletes_unreferenced_files(spark, table):
    table.commit(_docs(spark, 0, 10))
    table.commit(_docs(spark, 100, 103), mode="overwrite")
    res = table.expire_snapshots(keep_last=1)
    assert res["dropped_snapshots"] == [0]
    assert res["dropped_files"] > 0  # v0's files orphaned by overwrite
    assert not os.path.exists(os.path.join(table.root, "snap-000000"))
    assert table.read(spark).count() == 3


def test_expire_keeps_tagged(spark, table):
    table.commit(_docs(spark, 0, 10))
    table.tag("keepme")
    table.commit(_docs(spark, 100, 103), mode="overwrite")
    table.commit(_docs(spark, 200, 204), mode="overwrite")
    res = table.expire_snapshots(keep_last=1)
    assert res["dropped_snapshots"] == [1]
    assert table.read(spark, tag="keepme").count() == 10


def test_snapshots_metadata_table(spark, table):
    table.commit(_docs(spark, 0, 10), note="first")
    table.commit(_docs(spark, 10, 15), mode="append")
    meta = table.snapshots_df(spark).orderBy("version").collect()
    assert [(r.version, r.parent, r.mode) for r in meta] == \
           [(0, None, "append"), (1, 0, "append")]
    assert meta[0].note == "first" and meta[1].total_rows == 15


def test_pointer_swap_is_atomic_artifact(table):
    # The pointer is always a complete JSON file (written via tmp +
    # os.replace); no .tmp residue survives a commit.
    assert not any(n.endswith(".tmp") for n in os.listdir(table.root))


def test_publish_segments_versioned_roundtrip(spark, tmp_path, table):
    """publish_segments: each build is a table version; a pinned reader
    decodes the published segments back to the exact source postings."""
    from searchengine_spark.indexing.segments import decode_postings
    from searchengine_spark.pipeline.index_pipeline import (
        publish_segments,
        run_index_pipeline,
        stage_segments,
    )

    root = str(tmp_path / "idx")
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(40))
    idx = run_index_pipeline(spark, root, docs, "pub1")
    seg = stage_segments(spark, root, idx, "pub1", block_span=16)
    v0 = publish_segments(spark, table.root, seg, block_span=16,
                          note="build pub1")
    assert v0 == 0 and table.manifest(0)["note"] == "build pub1"

    served = table.read(spark, version=v0)
    dec = decode_postings(served, terms=None)
    assert dec.count() == idx.postings.count()
    assert (dec.select("term", "doc_id").exceptAll(
        idx.postings.select("term", "doc_id")).count() == 0)

    # A second publish is a new version; the pinned v0 still serves.
    v1 = publish_segments(spark, table.root, seg.limit(1), block_span=16,
                          note="bad build")
    assert v1 == 1 and table.read(spark).count() == 1
    assert decode_postings(table.read(spark, version=v0),
                           terms=None).count() == idx.postings.count()
    table.rollback(v0)
    assert table.read(spark).count() == seg.count()


def test_input_snapshot_versions_key_the_resumable_build(spark, tmp_path,
                                                         table):
    """End-to-end lineage: the pages corpus lives in a snapshot table
    (the north rule's input Iceberg table); the index build fingerprint
    carries the input snapshot version, so building against crawl v0
    resumes instantly while crawl v1 (an append commit) triggers a
    fresh build over exactly v1's file list."""
    from searchengine_spark.pipeline.checkpoint import read_manifest
    from searchengine_spark.pipeline.index_pipeline import run_index_pipeline

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    v0 = table.commit(docs.filter(F.col("doc_id") < 30),
                      note="crawl batch 0")
    root = str(tmp_path / "idx")

    idx0 = run_index_pipeline(spark, root,
                              table.read(spark, version=v0),
                              f"pages@v{v0}")
    n0 = idx0.doc_stats.count()
    assert n0 == 30
    # Same input version → resume (manifest fingerprint matches).
    run_index_pipeline(spark, root, table.read(spark, version=v0),
                       f"pages@v{v0}")
    assert read_manifest(root, "analyzed")["complete"]

    v1 = table.commit(docs.filter(F.col("doc_id").between(30, 49)),
                      mode="append", note="crawl batch 1")
    idx1 = run_index_pipeline(spark, root,
                              table.read(spark, version=v1),
                              f"pages@v{v1}")
    assert idx1.doc_stats.count() == 50
    assert read_manifest(root, "analyzed")["fingerprint"].endswith(
        f"pages@v{v1}")


def _ranged(spark, n=100, parts=4):
    """A doc table whose files hold disjoint doc_id ranges (what a
    real crawl table gets from write-time clustering) so footer stats
    can actually prune."""
    return _docs(spark, 0, n).repartitionByRange(parts, "doc_id")


def test_manifest_carries_footer_stats(spark, table):
    table.commit(_ranged(spark))
    for f in table.manifest(0)["data_files"]:
        st = f["stats"]["doc_id"]
        assert isinstance(st["min"], int) and st["min"] <= st["max"]
        assert st["nulls"] == 0
        assert "text" in f["stats"]  # strings get bounds too


def test_predicate_read_prunes_and_matches_plain_filter(spark, table):
    table.commit(_ranged(spark))
    plan = table.plan_files([("doc_id", "<", 10)])
    assert plan["total_files"] >= 4
    assert 0 < plan["kept_files"] < plan["total_files"]  # real skipping
    for preds in ([("doc_id", "<", 10)],
                  [("doc_id", "=", 57)],
                  [("doc_id", ">=", 90)],
                  [("doc_id", "in", [3, 97])],
                  [("doc_id", ">", 20), ("doc_id", "<=", 30)]):
        got = sorted(r.doc_id for r in
                     table.read(spark, predicates=preds).collect())
        want = sorted(r.doc_id for r in
                      table.read(spark).filter(
                          _pred_sql(preds)).collect())
        assert got == want and got  # non-trivial result


def _pred_sql(preds):
    import functools
    import operator

    cols = []
    for col, op, val in preds:
        c = F.col(col)
        cols.append(c.isin(val) if op == "in" else
                    {"=": c == val, "<": c < val, "<=": c <= val,
                     ">": c > val, ">=": c >= val}[op])
    return functools.reduce(operator.and_, cols)


def test_pruning_spans_append_snapshots(spark, table):
    table.commit(_docs(spark, 0, 50).repartitionByRange(2, "doc_id"))
    v1 = table.commit(
        _docs(spark, 50, 100).repartitionByRange(2, "doc_id"),
        mode="append")
    plan = table.plan_files([("doc_id", ">=", 75)], version=v1)
    assert plan["skipped_files"] >= 2  # v0's files all skipped
    got = sorted(r.doc_id for r in table.read(
        spark, version=v1, predicates=[("doc_id", ">=", 75)]).collect())
    assert got == list(range(75, 100))


def test_string_bounds_and_long_string_max_dropped(spark, table):
    from pyspark.sql import Row

    rows = [Row(k=f"{i:04d}", text="x" * 200) for i in range(40)]
    table.commit(spark.createDataFrame(rows).repartitionByRange(4, "k"))
    f0 = table.manifest(0)["data_files"][0]
    assert f0["stats"]["text"]["max"] is None  # >64 chars: unbounded
    assert len(f0["stats"]["text"]["min"]) <= 64  # prefix lower bound
    plan = table.plan_files([("k", "<", "0005")])
    assert plan["kept_files"] < plan["total_files"]
    got = sorted(r.k for r in table.read(
        spark, predicates=[("k", "<", "0005")]).collect())
    assert got == [f"{i:04d}" for i in range(5)]
    # Unbounded-above column never prunes on > — results still exact.
    assert table.read(spark,
                      predicates=[("text", ">", "w")]).count() == 40


def test_bool_and_date_predicates_filter_exactly(spark, table):
    import datetime

    day_col = F.date_add(F.lit(datetime.date(2024, 1, 1)),
                         F.col("doc_id").cast("int"))
    df = _docs(spark, 0, 20).select(
        "doc_id", (F.col("doc_id") % 2 == 0).alias("even"),
        day_col.alias("day"), F.to_timestamp(day_col).alias("ts"))
    table.commit(df)
    day = datetime.date(2024, 1, 11)
    got = sorted(r.doc_id for r in table.read(
        spark, predicates=[("even", "=", True), ("day", "<", day),
                           ("doc_id", "in", [2, 4, 13])]).collect())
    assert got == [2, 4]
    assert table.read(spark, predicates=[("day", "in", [day])]).count() == 1
    ts = datetime.datetime(2024, 1, 11, tzinfo=datetime.timezone.utc)
    assert table.read(spark, predicates=[("ts", ">=", ts)]).count() == 10


def test_all_null_column_file_pruned(spark, table):
    df = _docs(spark, 0, 20).withColumn("score", F.lit(None).cast("int"))
    table.commit(df)
    plan = table.plan_files([("score", "=", 5)])
    assert plan["kept_files"] == 0  # no row can satisfy a comparison
    assert table.read(spark, predicates=[("score", "=", 5)]).count() == 0


def test_pre_stats_manifests_read_unpruned(spark, table):
    """Manifests committed before stats existed (no "stats" key) keep
    every file — pruning degrades to a plain filtered read."""
    import json

    table.commit(_ranged(spark))
    mpath = os.path.join(table.root, "snap-000000", "manifest.json")
    with open(mpath) as fh:
        man = json.load(fh)
    for f in man["data_files"]:
        f.pop("stats")
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    plan = table.plan_files([("doc_id", "<", 10)])
    assert plan["skipped_files"] == 0
    got = sorted(r.doc_id for r in table.read(
        spark, predicates=[("doc_id", "<", 10)]).collect())
    assert got == list(range(10))


def test_compact_binpacks_small_files(spark, table):
    """Streaming-style accretion: many tiny files -> one bin-packed
    file in a new snapshot; rows identical; the uncompacted version
    still time-travels."""
    table.commit(_docs(spark, 0, 30).repartition(6))
    table.commit(_docs(spark, 30, 60).repartition(6), mode="append")
    before = table.read(spark)
    assert len(table.manifest(1)["data_files"]) == 12
    v2 = table.compact(spark)  # default 128 MB target: all files small
    m2 = table.manifest(v2)
    assert m2["mode"] == "compact" and len(m2["data_files"]) == 1
    assert m2["total_rows"] == 60
    got = sorted(r.doc_id for r in table.read(spark).collect())
    assert got == sorted(r.doc_id for r in before.collect())
    assert len(table.manifest(1)["data_files"]) == 12  # time travel
    # Stats survive the rewrite — pruning still plans on the new file.
    assert "doc_id" in m2["data_files"][0]["stats"]


def test_compact_carries_big_files_by_reference(spark, table):
    """Files at/above the size threshold are never rewritten — their
    manifest entries are carried verbatim (the property that makes
    compaction O(small files), not O(table))."""
    import json

    table.commit(_docs(spark, 0, 40).repartition(4))
    mpath = os.path.join(table.root, "snap-000000", "manifest.json")
    with open(mpath) as fh:
        man = json.load(fh)
    # Doctor one file to look big so the threshold logic sees a mix.
    man["data_files"][0]["bytes"] = 200 * 1024 * 1024
    big_path = man["data_files"][0]["path"]
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    v1 = table.compact(spark)
    paths = [f["path"] for f in table.manifest(v1)["data_files"]]
    assert big_path in paths  # referenced, not rewritten
    assert len(paths) == 2  # big file + one bin-packed output
    assert table.read(spark).count() == 40


def test_compact_noop_and_expire_reclaims_small_files(spark, table):
    table.commit(_docs(spark, 0, 30).repartition(6))
    table.compact(spark)
    assert table.compact(spark) is None  # a single file: nothing to do
    res = table.expire_snapshots(keep_last=1)
    assert res["dropped_files"] == 6  # the pre-compaction small files
    assert table.read(spark).count() == 30


def test_published_postings_prunes_buckets(spark, tmp_path, table,
                                           uncoalesced):
    """The serving read: a published build records its layout and is
    read back pruned to a query's term buckets — file skipping planned
    from manifest stats, decoded postings identical to the source
    index."""
    from searchengine_spark.indexing.build import term_bucket
    from searchengine_spark.pipeline import refresh as R
    from searchengine_spark.pipeline.index_pipeline import (
        publish_segments,
        run_index_pipeline,
        stage_segments,
    )

    root = str(tmp_path / "idx")
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(40))
    idx = run_index_pipeline(spark, root, docs, "pub2")
    seg = stage_segments(spark, root, idx, "pub2", block_span=16)
    with uncoalesced():
        publish_segments(spark, table.root, seg, term_buckets=8,
                         block_span=16)
    props = table.properties()
    assert props["term_buckets"] == 8 and props["block_span"] == 16

    term = idx.postings.select("term").first().term
    plan = table.plan_files([("bucket", "in", [term_bucket(term, 8)])])
    assert plan["skipped_files"] > 0  # stats actually plan files away
    served, _, _ = R._published_segments(spark, table.root, [term], None)
    assert len(served.inputFiles()) == plan["kept_files"]

    dec = R.published_postings(spark, table.root, [term])
    want = idx.postings.filter(F.col("term") == term)
    assert dec.count() == want.count() > 0
    assert dec.select("term", "doc_id").exceptAll(
        want.select("term", "doc_id")).count() == 0


def _published(spark, tmp_path, table, n_docs, tag, corpus_stats=True,
               biword=False):
    """(staged index, staged segments, published version) of the first
    ``n_docs`` sf0.001 documents."""
    from searchengine_spark.pipeline.index_pipeline import (
        publish_segments,
        run_index_pipeline,
        stage_segments,
    )

    root = str(tmp_path / "idx")
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(n_docs))
    idx = run_index_pipeline(spark, root, docs, tag)
    seg = stage_segments(spark, root, idx, tag, block_span=16)
    v = publish_segments(
        spark, table.root, seg, term_buckets=8, block_span=16,
        corpus_stats=idx.corpus_stats if corpus_stats else None,
        biword=idx.biword if biword else None)
    return idx, seg, v


def test_query_published_snapshot_parity(spark, tmp_path, table):
    """The full serve loop: publish (with corpus scalars as table
    properties) -> serve a pinned version bucket-pruned -> exact BM25
    and WAND both match WAND over the staged segments with the
    in-memory index's scalars."""
    from searchengine_spark.pipeline import refresh as R
    from searchengine_spark.queries.wand import wand_topk

    idx, seg, v = _published(spark, tmp_path, table, 60, "pub3")
    props = table.properties(v)
    assert props["term_buckets"] == 8 and props["n_docs"] == 60

    term = (idx.postings.groupBy("term").count()
            .orderBy(F.desc("count"), "term").first().term)
    ident = (lambda t: t)

    def key(rows):
        return [(r.doc_id, round(r.score, 9)) for r in rows]

    want = key(wand_topk(idx.corpus_scalars(), seg, term, 5,
                         normalize=ident).collect())
    got_exact = key(R.refreshed_topk(spark, table.root, term, 5,
                                     normalize=ident, version=v).collect())
    got_wand = key(R.refreshed_wand_topk(spark, table.root, term, 5,
                                         normalize=ident,
                                         version=v).collect())
    assert want and got_exact == want and got_wand == want


def test_ranked_batch_served_from_snapshot_parity(spark, tmp_path, table):
    """The query-log replay path over a published snapshot
    (pipeline/refresh.refreshed_topk_batch): one decode serving a whole
    query batch, per-query identical — doc_ids AND scores — to
    single-query full-decode BM25 over the staged segments."""
    from searchengine_spark.pipeline import refresh as R
    from searchengine_spark.queries.wand import decode_topk

    idx, seg, v = _published(spark, tmp_path, table, 60, "pubbatch")

    top = [r.term for r in idx.postings.groupBy("term").count()
           .orderBy(F.desc("count"), "term").limit(4).collect()]
    ident = (lambda t: t)
    queries = {
        "q_single": top[0],
        "q_and": f"{top[1]} {top[2]}",
        "q_repeat": f"{top[0]} {top[0]} {top[3]}",  # multiplicity 2
    }

    batch = R.refreshed_topk_batch(
        spark, table.root, queries, k=5, normalize=ident,
        version=v).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(
            (r.doc_id, round(r.score, 9)))

    nonempty = 0
    for qid, q in queries.items():
        want = [(r.doc_id, round(r.score, 9)) for r in
                decode_topk(idx.corpus_scalars(), seg, q, 5,
                            normalize=ident).collect()]
        assert by_q.get(qid, []) == want, qid
        nonempty += bool(want)
    assert nonempty == len(queries)


def test_ranked_serve_requires_corpus_stats(spark, table):
    """A snapshot published without corpus_stats cannot be ranked: each
    ranked reader raises with the republish instruction, before any
    Spark job, instead of a bare KeyError on 'n_docs'."""
    from searchengine_spark.indexing.segments import build_segments
    from searchengine_spark.pipeline import refresh as R
    from searchengine_spark.pipeline.index_pipeline import publish_segments

    postings = spark.createDataFrame(
        [("alpha", 1, 1, [0], 3), ("alpha", 2, 2, [0, 2], 4)],
        "term string, doc_id long, tftd int, positions array<int>, "
        "doc_length int")
    publish_segments(spark, table.root,
                     build_segments(postings, doc_stats=None, block_span=16))
    sc = spark.sparkContext
    sc.setJobGroup("no-corpus-stats", "ranked reads without scalars")
    try:
        for serve in (
            lambda: R.refreshed_topk(spark, table.root, "alpha"),
            lambda: R.refreshed_topk_batch(spark, table.root,
                                           {"q": "alpha"}),
            lambda: R.refreshed_wand_topk(spark, table.root, "alpha"),
        ):
            with pytest.raises(KeyError, match="corpus_stats"):
                serve()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "no-corpus-stats")) == []
    # boolean serving needs no corpus scalars
    assert sorted(r.doc_id for r in R.refreshed_boolean(
        spark, table.root, "alpha").collect()) == [1, 2]


def test_lineage_entries_match_footers(spark, table):
    table.commit(_docs(spark, 0, 10))
    m = table.manifest(0)
    for f in m["data_files"]:
        assert f["rows"] >= 0 and f["bytes"] > 0 and f["row_groups"] >= 1
    assert sum(f["rows"] for f in m["data_files"]) == 10
    # Relocatable: paths are root-relative.
    assert all(not f["path"].startswith("/") for f in m["data_files"])


def test_boolean_served_from_snapshot_parity(spark, tmp_path, table):
    """The boolean half of the serving path
    (pipeline/refresh.refreshed_boolean): a snapshot published WITH the
    biword family answers the reference's whole boolean grammar —
    AND/OR/NOT, 2-term phrase (biword fast path), 3-term positional
    phrase, NEAR/k — with exactly the in-memory engine's doc_id sets."""
    from searchengine_spark.pipeline import refresh as R
    from searchengine_spark.queries.engine import boolean_query

    idx, _, v = _published(spark, tmp_path, table, 80, "pubbool",
                           biword=True)
    assert table.properties()["biword"] is True

    queries = [
        "table scan",             # AND
        "query + window",         # OR
        "table -stream",          # AND-NOT
        "table scan + agg -join", # mixed
        '"table scan"',           # 2-term phrase -> biword fast path
        '"the query plan"',       # 3-term phrase -> positional merge
        "[table NEAR/3 scan]",    # NEAR/k
    ]
    nonempty = 0
    for q in queries:
        want = [r.doc_id for r in boolean_query(idx, q).collect()]
        got = [r.doc_id for r in
               R.refreshed_boolean(spark, table.root, q,
                                   version=v).collect()]
        assert got == want, q
        nonempty += bool(want)
    assert nonempty >= 4  # the corpus really exercises the paths


def test_boolean_serve_guards(spark, tmp_path, table):
    """Publishing without biword: 2-term phrase raises (never silently
    swaps in positional semantics); appending a delta to a
    biword-carrying table without the delta's biword rows raises."""
    import pytest as _pytest

    from searchengine_spark.pipeline import refresh as R
    from searchengine_spark.pipeline.index_pipeline import publish_segments

    idx, seg, _ = _published(spark, tmp_path, table, 30, "pubguard",
                             corpus_stats=False)
    # other query kinds still work without the biword family
    assert R.refreshed_boolean(
        spark, table.root, "table scan").count() >= 0
    with _pytest.raises(KeyError, match="biword"):
        R.refreshed_boolean(spark, table.root, '"table scan"')

    with_bw = publish_segments(spark, table.root, seg, term_buckets=8,
                               block_span=16, biword=idx.biword)
    assert R.refreshed_boolean(
        spark, table.root, '"table scan"', version=with_bw).count() >= 0
    with _pytest.raises(ValueError, match="biword"):
        publish_segments(spark, table.root, seg, term_buckets=8,
                         block_span=16, mode="append")


def test_publish_derives_bucket_from_term_buckets(spark, table):
    """The writer computes ``bucket`` itself: segments that arrive with
    a bucket column of another modulus (16) are re-bucketed to the
    recorded ``term_buckets`` (8), so the bucket-planned read returns
    every posting of every term; an append cannot change the layout."""
    from searchengine_spark.indexing.build import term_bucket
    from searchengine_spark.indexing.segments import build_segments
    from searchengine_spark.pipeline import refresh as R
    from searchengine_spark.pipeline.index_pipeline import publish_segments

    terms = [f"term{i}" for i in range(12)]
    # the two moduli disagree for some terms — the case that drops rows
    assert any(term_bucket(t, 16) != term_bucket(t, 8) for t in terms)
    postings = spark.createDataFrame(
        [(t, d, 1, [0], 5) for i, t in enumerate(terms)
         for d in range(i + 1)],
        "term string, doc_id long, tftd int, positions array<int>, "
        "doc_length int")
    seg = build_segments(postings, doc_stats=None).withColumn(
        "bucket",
        F.pmod(F.crc32(F.col("term").cast("binary")), F.lit(16)).cast("int"))
    publish_segments(spark, table.root, seg, term_buckets=8)

    got = {r.term: r.n for r in R.published_postings(spark, table.root, terms)
           .groupBy("term").agg(F.count("*").alias("n")).collect()}
    assert got == {t: i + 1 for i, t in enumerate(terms)}
    with pytest.raises(ValueError, match="layout"):
        publish_segments(spark, table.root, seg, term_buckets=16,
                         mode="append")
