"""The O(delta) crawl-refresh loop (pipeline/refresh.py): incremental
pages scan → row-delta index commit → merge-on-read serving → major
compaction.  The exactness bar: every serving surface over the
refreshed index must match a FROM-SCRATCH build over the latest crawl
state — rows, scores, quirks (and for WAND, after the rewrite)."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.corpus import pages_df
from searchengine_spark.pipeline import refresh as R
from searchengine_spark.sources.snapshots import SnapshotTable

RANKED = ["the crawl", "refreshed crawl extra", "page body"]
BOOLEAN = ['"refreshed crawl"', "crawl + extra", "page - crawl",
           '"refreshed crawl extra"']  # 2-term biword path + 3-term phrase


@pytest.fixture(scope="module")
def loop(spark, tmp_path_factory):
    """pages v0 (4/5 of 300 urls) → full index build → pages v1 (the
    held-out fifth + ~43 re-crawls with changed text) → delta refresh;
    plus a scratch index of the final crawl state as the parity twin.
    Returns (pages_root, refreshed_root, scratch_root, versions)."""
    base = tmp_path_factory.mktemp("refresh_loop")
    pr, ir, ir2 = str(base / "pages"), str(base / "idx"), str(base / "twin")

    pages = SnapshotTable(pr)
    everything = pages_df(spark, 300, seed=42).cache()
    v0 = pages.commit(everything.filter(F.xxhash64("url") % 5 != 0),
                      mode="overwrite")
    iv0 = R.build_pages_index(spark, pr, ir, term_buckets=16)

    held = everything.filter(F.xxhash64("url") % 5 == 0)
    recrawl = (
        everything.filter(F.xxhash64("url") % 7 == 0)
        .withColumn("text", F.concat("text",
                                     F.lit(" refreshed crawl extra")))
        .withColumn("html", F.col("text").cast("binary"))
        .withColumn("warc_ts",
                    F.col("warc_ts") + F.expr("interval 10 days"))
    )
    v1 = pages.commit(held.unionByName(recrawl))
    iv1 = R.refresh_pages_index(spark, pr, ir)
    R.build_pages_index(spark, pr, ir2, term_buckets=16)
    everything.unpersist()
    return pr, ir, ir2, (v0, v1, iv0, iv1)


def _ranked(spark, root, q, version=None):
    return [(r.doc_id, round(r.score, 9))
            for r in R.refreshed_topk(spark, root, q, k=10,
                                      version=version).collect()]


def test_refresh_is_o_delta_on_files(spark, loop):
    """The base build's data files are ALL carried by reference; the
    refresh writes only delta-sized files (new segments + one delete
    file) — the property that makes a 10^12-doc refresh affordable."""
    _, ir, _, (_, _, iv0, iv1) = loop
    t = SnapshotTable(ir)
    m0, m1 = t.manifest(iv0), t.manifest(iv1)
    assert {f["path"] for f in m0["data_files"]} \
        <= {f["path"] for f in m1["data_files"]}
    assert m1["mode"] == "append" and m1["delete_files"]
    # written rows ∝ delta: well under the base build's rows
    new_rows = sum(f["rows"] for f in m1["data_files"]
                   if f["seq"] == iv1)
    assert 0 < new_rows < m0["total_rows"]


def test_refreshed_scalars_match_scratch(spark, loop):
    _, ir, ir2, _ = loop
    a, b = SnapshotTable(ir).properties(), SnapshotTable(ir2).properties()
    assert a["n_docs"] == b["n_docs"]
    assert a["avg_doc_length"] == pytest.approx(b["avg_doc_length"],
                                                abs=1e-9)


def test_refreshed_topk_scores_equal_scratch_build(spark, loop):
    _, ir, ir2, _ = loop
    for q in RANKED:
        assert _ranked(spark, ir, q) == _ranked(spark, ir2, q), q


def test_refreshed_boolean_equals_scratch_build(spark, loop):
    _, ir, ir2, _ = loop
    for q in BOOLEAN:
        a = [r.doc_id
             for r in R.refreshed_boolean(spark, ir, q).collect()]
        b = [r.doc_id
             for r in R.refreshed_boolean(spark, ir2, q).collect()]
        assert a == b, q
    # sanity: the re-crawl text is findable, i.e. the delta is LIVE
    assert R.refreshed_boolean(spark, ir, '"refreshed crawl"').count() > 0


def test_refreshed_boolean_missing_terms_and_empty_words(spark, loop):
    """A term absent from the snapshot, or a phrase word that
    normalizes to '', makes its step false and never raises: phrases,
    NEAR and AND come back empty, ``A -missing`` is A's documents.
    Every answer equals the oracle over the live crawl state, keyed by
    the url-hash doc_ids the docstats companion records."""
    from searchengine_spark.oracle.engine import boolean_query_docs, build_index
    from searchengine_spark.streaming.ingest import latest_per_url

    pr, ir, _, _ = loop
    ids = {r.url: r.doc_id for r in
           SnapshotTable(f"{ir}/docstats").read(spark).collect()}
    texts = latest_per_url(SnapshotTable(pr).read(spark)).collect()
    oidx = build_index([(ids[r.url], r.text) for r in texts])
    empty = ['"refreshed zzqxmissing crawl"', '"refreshed ... crawl"',
             "[crawl NEAR/2 zzqxmissing]", "[zzqxmissing NEAR/2 crawl]",
             "crawl zzqxmissing", "zzqxmissing", '"zzqxmissing"']
    for q in empty + ["crawl -zzqxmissing", "crawl + zzqxmissing",
                      '"refreshed crawl extra"', "[refreshed NEAR/1 crawl]"]:
        got = [r.doc_id for r in R.refreshed_boolean(spark, ir, q).collect()]
        assert got == boolean_query_docs(oidx, q), q
        assert bool(got) == (q not in empty), q
    crawl = [r.doc_id for r in R.refreshed_boolean(spark, ir, "crawl").collect()]
    assert [r.doc_id for r in R.refreshed_boolean(
        spark, ir, "crawl -zzqxmissing").collect()] == crawl


def test_refreshed_wand_serves_live_docs_with_exact_pruning(spark, loop):
    """Merge-on-read WAND: only live docs, and rank-identical to its
    own decode twin under the same (stale-dft) weights — the Lucene
    unmerged-index contract."""
    _, ir, _, _ = loop
    live = {r.doc_id for r in
            SnapshotTable(ir + "/docstats").read(spark).collect()}
    for q in RANKED:
        w = [r.doc_id
             for r in R.refreshed_wand_topk(spark, ir, q, k=10).collect()]
        assert set(w) <= live, q
        assert len(w) == 10


def test_rewrite_restores_exact_wand_and_clears_deletes(spark, loop):
    _, ir, ir2, _ = loop
    iv2 = R.rewrite_pages_index(spark, ir)
    t = SnapshotTable(ir)
    assert t.manifest(iv2)["delete_files"] == []
    for q in RANKED:
        a = [(r.doc_id, round(r.score, 9)) for r in
             R.refreshed_wand_topk(spark, ir, q, k=10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             R.refreshed_wand_topk(spark, ir2, q, k=10).collect()]
        assert a == b == _ranked(spark, ir, q), q
    # a second refresh cycle on top of the rewrite still works
    assert R.refresh_pages_index(spark, ir.replace("idx", "pages"), ir) \
        == t.current_version()  # pages unchanged -> no-op


def test_second_delta_cycle_stays_exact(spark, tmp_path):
    """Three pages versions, two refreshes (the second re-crawls a doc
    ALREADY re-crawled by the first — two delete layers on one key);
    final state equals a scratch build."""
    pr, ir, ir2 = (str(tmp_path / d) for d in ("p", "i", "t"))
    pages = SnapshotTable(pr)
    everything = pages_df(spark, 120, seed=7).cache()
    pages.commit(everything.filter(F.xxhash64("url") % 3 == 0),
                 mode="overwrite")
    R.build_pages_index(spark, pr, ir, term_buckets=8)

    def bump(df, tag, days):
        return (df.withColumn("text", F.concat("text", F.lit(tag)))
                .withColumn("html", F.col("text").cast("binary"))
                .withColumn("warc_ts",
                            F.col("warc_ts")
                            + F.expr(f"interval {days} days")))

    twice = everything.filter(F.xxhash64("url") % 6 == 0)  # ⊂ v0 docs
    pages.commit(everything.filter(F.xxhash64("url") % 3 == 1)
                 .unionByName(bump(twice, " first pass", 1)))
    R.refresh_pages_index(spark, pr, ir)
    pages.commit(everything.filter(F.xxhash64("url") % 3 == 2)
                 .unionByName(bump(twice, " second pass", 2)))
    R.refresh_pages_index(spark, pr, ir)
    R.build_pages_index(spark, pr, ir2, term_buckets=8)
    everything.unpersist()

    for q in ("second pass", "the page", "first"):
        assert _ranked(spark, ir, q) == _ranked(spark, ir2, q), q
    # the twice-re-crawled docs serve ONLY their newest text
    assert R.refreshed_boolean(spark, ir, '"first pass"').count() == 0
    assert R.refreshed_boolean(spark, ir, '"second pass"').count() \
        == twice.count()


def test_refresh_requires_a_built_index(spark, tmp_path):
    pr = str(tmp_path / "p")
    SnapshotTable(pr).commit(pages_df(spark, 10, seed=1),
                             mode="overwrite")
    with pytest.raises(FileNotFoundError):
        R.refresh_pages_index(spark, pr, str(tmp_path / "i"))


def _bump(df, tag, days):
    return (df.withColumn("text", F.concat("text", F.lit(tag)))
            .withColumn("html", F.col("text").cast("binary"))
            .withColumn("warc_ts",
                        F.col("warc_ts") + F.expr(f"interval {days} days")))


def test_maintenance_policy_compacts_only_past_threshold(spark, tmp_path):
    """The scheduled-job maintenance loop: metadata-only debt
    accounting, no-op below the thresholds, compaction past them —
    and the compacted index still serves a scratch build's answers."""
    pr, ir, ir2 = (str(tmp_path / d) for d in ("p", "i", "t"))
    pages = SnapshotTable(pr)
    everything = pages_df(spark, 120, seed=11).cache()
    pages.commit(everything.filter(F.xxhash64("url") % 3 == 0),
                 mode="overwrite")
    R.build_pages_index(spark, pr, ir, term_buckets=8)

    s0 = R.maintenance_stats(ir)
    assert (s0["delta_commits"], s0["delete_rows"],
            s0["delete_ratio"]) == (0, 0, 0.0)
    compacted, v, _ = R.maybe_rewrite_pages_index(spark, ir)
    assert not compacted and v == SnapshotTable(ir).current_version()

    pages.commit(everything.filter(F.xxhash64("url") % 3 == 1)
                 .unionByName(_bump(
                     everything.filter(F.xxhash64("url") % 6 == 0),
                     " recrawl", 1)))
    R.refresh_pages_index(spark, pr, ir)
    s1 = R.maintenance_stats(ir)
    assert s1["delta_commits"] == 1 and s1["delete_files"] >= 1
    assert s1["delete_rows"] > 0 and 0 < s1["delete_ratio"] < 1
    assert s1["live_docs"] == SnapshotTable(ir + "/docstats") \
        .read(spark).count()

    # loose thresholds: the debt is tolerable, stay merge-on-read
    compacted, v_noop, _ = R.maybe_rewrite_pages_index(
        spark, ir, max_delete_ratio=0.99, max_delta_commits=8)
    assert not compacted \
        and SnapshotTable(ir).manifest(v_noop)["mode"] == "append"

    # tight layer budget: 1 delta commit > 0 allowed -> rewrite
    compacted, v2, before = R.maybe_rewrite_pages_index(
        spark, ir, max_delete_ratio=0.99, max_delta_commits=0)
    assert compacted and before == s1
    man = SnapshotTable(ir).manifest(v2)
    assert man["mode"] == "overwrite" and man["delete_files"] == []
    assert R.maintenance_stats(ir)["delta_commits"] == 0

    R.build_pages_index(spark, pr, ir2, term_buckets=8)
    everything.unpersist()
    for q in ("recrawl", "the page"):
        assert _ranked(spark, ir, q) == _ranked(spark, ir2, q), q


def test_submit_refresh_job_init_then_refresh(spark, tmp_path, capsys):
    """The spark-submit driver end to end (session injected): --init
    base build, then a refresh run whose commit accounting shows
    O(delta) bytes and whose maintenance check ran."""
    import sys as _sys
    _sys.path.insert(0, "scripts")
    from submit_refresh_job import main as job

    pr, ir = str(tmp_path / "p"), str(tmp_path / "i")
    pages = SnapshotTable(pr)
    everything = pages_df(spark, 100, seed=3).cache()
    pages.commit(everything.filter(F.xxhash64("url") % 4 != 0),
                 mode="overwrite")

    out0 = job(["--pages-root", pr, "--index-root", ir, "--init",
                "--term-buckets", "8"], spark=spark)
    assert out0["phase"] == "init" \
        and out0["index_version_before"] is None
    assert out0["commit"]["mode"] == "overwrite"
    assert not out0["maintenance"]["compacted"]
    json_line = capsys.readouterr().out.strip().splitlines()[-1]
    import json as _json
    assert _json.loads(json_line)["index_version"] == out0["index_version"]

    pages.commit(everything.filter(F.xxhash64("url") % 4 == 0))
    everything.unpersist()
    out1 = job(["--pages-root", pr, "--index-root", ir], spark=spark)
    assert out1["phase"] == "refresh"
    assert out1["index_version"] > out0["index_version"]
    c = out1["commit"]
    assert c["mode"] == "append" and c["new_delete_files"] >= 1
    assert 0 < c["bytes_written"] < c["table_data_bytes"]
    assert out1["maintenance"]["stats_before"]["delta_commits"] == 1

    # --init refuses to clobber an existing table
    with pytest.raises(SystemExit):
        job(["--pages-root", pr, "--index-root", ir, "--init"],
            spark=spark)


def test_refreshed_batch_matches_per_query_serving(spark, loop):
    """The query-log replay path over a merge-on-read snapshot must be
    row/score/rank-identical per query to refreshed_topk — batch is the
    fleet serving shape the serving-tax bench measures."""
    _, ir, _, (_, _, _, iv1) = loop
    qmap = {f"q{i}": q for i, q in enumerate(RANKED)}
    rows = R.refreshed_topk_batch(spark, ir, qmap, k=10,
                                  version=iv1).collect()
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    for qid, q in qmap.items():
        assert got.get(qid, []) == _ranked(spark, ir, q, version=iv1), q


def test_refreshed_batch_empty_queries(spark, loop):
    _, ir, _, _ = loop
    assert R.refreshed_topk_batch(spark, ir, {}).count() == 0


def test_submit_warehouse_job_full_loop(spark, tmp_path, capsys):
    """The one-command cluster driver: first run builds from warehouse
    state, second run refreshes, both serve the query batch in one job
    — the spark-submit surface of build -> publish -> refresh -> serve."""
    import sys as _sys
    _sys.path.insert(0, "scripts")
    from submit_warehouse_job import main as job

    wh = str(tmp_path / "wh")
    pages = SnapshotTable(f"{wh}/pages")
    everything = pages_df(spark, 100, seed=3).cache()
    pages.commit(everything.filter(F.xxhash64("url") % 4 != 0),
                 mode="overwrite")

    out0 = job(["--warehouse", wh, "--term-buckets", "8",
                "--queries", "the crawl; page body"], spark=spark)
    assert out0["phase"] == "init"
    assert set(out0["serve"]["results"]) == {"the crawl", "page body"}
    assert all(len(res) > 0 for res in out0["serve"]["results"].values())
    # one JSON line, parseable, carrying the serve payload
    line = capsys.readouterr().out.strip().splitlines()[-1]
    import json as _json
    assert _json.loads(line)["serve"]["k"] == 10

    # second run: auto-refresh over the new crawl batch
    pages.commit(everything.filter(F.xxhash64("url") % 4 == 0))
    everything.unpersist()
    out1 = job(["--warehouse", wh, "--queries", "the crawl"], spark=spark)
    assert out1["phase"] == "refresh"
    assert out1["index_version"] > out0["index_version"]
    assert out1["commit"]["new_delete_files"] >= 0
    served = out1["serve"]["results"]["the crawl"]
    # serving matches the direct per-query path at the same version
    direct = [[r.doc_id, round(r.score, 6)] for r in R.refreshed_topk(
        spark, f"{wh}/pages_index", "the crawl", k=10,
        version=out1["index_version"]).collect()]
    assert served == direct

    # no pages table -> clear refusal
    with pytest.raises(SystemExit, match="no pages table"):
        job(["--warehouse", str(tmp_path / "empty")], spark=spark)
