"""Snapshot-table delta surfaces: incremental append scan
(read_appends), row-level equality deletes with sequence-number
merge-on-read, delete-aware compaction classes, and rewrite_deletes
major compaction — the Iceberg v2 semantics the O(delta) index refresh
(pipeline/refresh.py) is built on."""

import json
import os

import pytest
from pyspark.sql import Row

from searchengine_spark.sources.snapshots import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


@pytest.fixture
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


@pytest.fixture
def appended(spark, table):
    """v0 overwrite {1,2,3}, v1 append {4,5}, v2 append {6}."""
    table.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]),
                 mode="overwrite")
    table.commit(_df(spark, [(4, "d"), (5, "e")]))
    table.commit(_df(spark, [(6, "f")]))
    return table


def test_read_appends_is_the_between_versions_delta(spark, appended):
    inc = appended.read_appends(spark, 0, 2)
    assert sorted(r.doc_id for r in inc.collect()) == [4, 5, 6]
    # default to_version = current; single-step delta
    assert sorted(r.doc_id
                  for r in appended.read_appends(spark, 1).collect()) == [6]
    # from == to: empty delta with the table schema
    empty = appended.read_appends(spark, 2, 2)
    assert empty.count() == 0 and empty.columns == ["doc_id", "text"]


def test_read_appends_refuses_non_append_history(spark, appended):
    appended.commit(_df(spark, [(9, "z")]), mode="overwrite")
    with pytest.raises(ValueError, match="append"):
        appended.read_appends(spark, 1, 3)
    # a rollback fork: v1 is no longer an ancestor of the fork head
    appended.rollback(0)
    appended.commit(_df(spark, [(7, "g")]))
    with pytest.raises(ValueError, match="ancestor"):
        appended.read_appends(spark, 1)


def test_read_appends_refuses_delete_commits(spark, appended):
    v = appended.commit(_df(spark, [(7, "g")]), deletes=_ids(spark, [4]),
                        equality_columns=["doc_id"])
    with pytest.raises(ValueError, match="delete"):
        appended.read_appends(spark, 0, v)


def test_equality_delete_and_same_commit_readd(spark, appended):
    """Delete {2,4}, re-add 2 in the SAME commit: the sequence-number
    rule keeps the new row (deletes apply only to LOWER seqs)."""
    appended.commit(_df(spark, [(2, "b2"), (7, "g")]),
                    deletes=_ids(spark, [2, 4]),
                    equality_columns=["doc_id"])
    got = sorted((r.doc_id, r.text) for r in appended.read(spark).collect())
    assert got == [(1, "a"), (2, "b2"), (3, "c"), (5, "e"), (6, "f"),
                   (7, "g")]
    # raw read sees every physical row; delete_rows carries the seqs
    assert appended.read(spark, apply_deletes=False).count() == 8
    dl = appended.delete_rows(spark)
    assert sorted((r.doc_id, r._seq) for r in dl.collect()) == [(2, 3), (4, 3)]
    # older versions time-travel without the delete
    assert appended.read(spark, version=2).count() == 6


def test_with_seq_stamps_rows_by_writing_commit(spark, appended):
    seqs = {r.doc_id: r._seq
            for r in appended.read(spark, with_seq=True).collect()}
    assert seqs == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 2}


def test_delete_only_commit_and_layered_predicates(spark, appended):
    appended.commit(None, deletes=_ids(spark, [6]),
                    equality_columns=["doc_id"])
    assert sorted(r.doc_id for r in appended.read(spark).collect()) \
        == [1, 2, 3, 4, 5]
    # predicate pruning composes with the merge-on-read layering
    got = appended.read(spark, predicates=[("doc_id", ">=", 3)])
    assert sorted(r.doc_id for r in got.collect()) == [3, 4, 5]


def test_deletes_on_non_table_column_defer_to_caller(spark, table):
    """Index tables delete on doc_id, which is NOT a segment column —
    read() must refuse to silently skip them."""
    table.commit(spark.createDataFrame([("x", 1)], "term string, n long"),
                 mode="overwrite")
    table.commit(None, deletes=_ids(spark, [4]),
                 equality_columns=["doc_id"])
    with pytest.raises(ValueError, match="apply_deletes=False"):
        table.read(spark)
    assert table.read(spark, apply_deletes=False).count() == 1
    dl = table.delete_rows(spark)
    assert [r.doc_id for r in dl.collect()] == [4]


def test_delete_commit_validation(spark, appended):
    with pytest.raises(ValueError, match="equality_columns"):
        appended.commit(None, deletes=_ids(spark, [1]))
    with pytest.raises(ValueError, match="append"):
        appended.commit(_df(spark, [(9, "z")]), mode="overwrite",
                        deletes=_ids(spark, [1]),
                        equality_columns=["doc_id"])
    with pytest.raises(ValueError, match="lacks equality"):
        appended.commit(None, deletes=_ids(spark, [1]),
                        equality_columns=["url"])


def test_rewrite_deletes_materializes_and_clears(spark, appended):
    appended.commit(_df(spark, [(2, "b2")]), deletes=_ids(spark, [2, 4]),
                    equality_columns=["doc_id"])
    want = sorted((r.doc_id, r.text) for r in appended.read(spark).collect())
    v = appended.rewrite_deletes(spark)
    man = appended.manifest(v)
    assert man["mode"] == "rewrite" and man["delete_files"] == []
    got = sorted((r.doc_id, r.text) for r in appended.read(spark).collect())
    assert got == want
    # merge-on-read view still served for the pinned older version
    old = sorted(r.doc_id
                 for r in appended.read(spark, version=v - 1).collect())
    assert old == [r[0] for r in want]
    # idempotent: nothing left to rewrite
    assert appended.rewrite_deletes(spark) is None


def test_rewrite_carries_post_delete_files_by_reference(spark, appended):
    v_del = appended.commit(_df(spark, [(7, "g")]),
                            deletes=_ids(spark, [4]),
                            equality_columns=["doc_id"])
    new_paths = {f["path"] for f in appended.manifest(v_del)["data_files"]
                 if f["seq"] == v_del}
    v = appended.rewrite_deletes(spark)
    paths = {f["path"] for f in appended.manifest(v)["data_files"]}
    assert new_paths <= paths  # delta files untouched, by reference


def test_compact_respects_delete_classes(spark, table):
    """Files a delete applies to and files newer than it must not be
    merged together — re-stamping seqs would un-apply the delete."""
    table.commit(_df(spark, [(1, "a")]), mode="overwrite")
    table.commit(_df(spark, [(2, "b")]))
    table.commit(_df(spark, [(1, "a2")]), deletes=_ids(spark, [1]),
                 equality_columns=["doc_id"])
    table.commit(_df(spark, [(3, "c")]))
    want = [(1, "a2"), (2, "b"), (3, "c")]
    v = table.compact(spark)
    assert v is not None
    got = sorted((r.doc_id, r.text) for r in table.read(spark).collect())
    assert got == want
    man = table.manifest(v)
    assert man["delete_files"]  # carried, still applied
    # two delete classes -> at least two data files survive compaction
    assert len({f["seq"] for f in man["data_files"]}) >= 2


def test_expire_refcounts_delete_files(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    table.commit(None, deletes=_ids(spark, [1]),
                 equality_columns=["doc_id"])
    table.commit(_df(spark, [(3, "c")]))
    table.expire_snapshots(keep_last=2)
    got = sorted(r.doc_id for r in table.read(spark).collect())
    assert got == [2, 3]  # delete file survived expiry of its snapshot


# Three commits: key 1 is deleted at seq 1 (and re-added there) and
# again at seq 2; key 3 is deleted and re-added at seq 2.
_LAYERS = [
    ([(1, "a"), (2, "b"), (3, "c")], None),
    ([(1, "a1"), (4, "d")], [1]),
    ([(3, "c2"), (5, "e")], [1, 3]),
]


def _max_seq_rule(layers):
    """Rows the max-delete-seq rule keeps: (doc_id, text, seq) survives
    unless the key's greatest delete seq is above the row's seq."""
    max_del = {}
    for seq, (_rows, dels) in enumerate(layers):
        for key in dels or []:
            max_del[key] = max(max_del.get(key, -1), seq)
    return sorted((doc, text, seq)
                  for seq, (rows, _dels) in enumerate(layers)
                  for doc, text in rows
                  if max_del.get(doc, -1) <= seq)


def test_sequence_rule_matches_max_delete_seq(spark, tmp_path):
    """read(), rewrite_deletes() and refresh.published_postings keep
    exactly the rows the max-delete-seq rule keeps, with a key deleted
    by two commits at different seqs."""
    from searchengine_spark.indexing.segments import build_segments
    from searchengine_spark.pipeline.refresh import published_postings

    want = _max_seq_rule(_LAYERS)
    assert [(d, t) for d, t, _ in want] == [(2, "b"), (3, "c2"), (4, "d"),
                                            (5, "e")]

    table = SnapshotTable(str(tmp_path / "tbl"))
    for seq, (rows, dels) in enumerate(_LAYERS):
        table.commit(_df(spark, rows),
                     mode="append" if seq else "overwrite",
                     deletes=_ids(spark, dels) if dels else None,
                     equality_columns=["doc_id"] if dels else None)
    assert sorted((r.doc_id, r.text, r._seq) for r in
                  table.read(spark, with_seq=True).collect()) == want
    table.rewrite_deletes(spark)
    assert sorted((r.doc_id, r.text) for r in table.read(spark).collect()) \
        == [(d, t) for d, t, _ in want]

    # the index-table shape: doc_ids inside encoded segments, the row's
    # seq carried as its tftd
    index = SnapshotTable(str(tmp_path / "idx"))
    for seq, (rows, dels) in enumerate(_LAYERS):
        postings = spark.createDataFrame(
            [("t", doc, seq + 1, [0], 10) for doc, _text in rows],
            "term string, doc_id long, tftd int, positions array<int>, "
            "doc_length int")
        index.commit(build_segments(postings, None),
                     mode="append" if seq else "overwrite",
                     deletes=_ids(spark, dels) if dels else None,
                     equality_columns=["doc_id"] if dels else None)
    got = published_postings(spark, index.root, None, with_positions=False)
    assert sorted((r.doc_id, r.tftd) for r in got.collect()) \
        == sorted((d, s + 1) for d, _t, s in want)


def test_delete_entry_without_schema_is_refused(spark, appended):
    v = appended.commit(None, deletes=_ids(spark, [4]),
                        equality_columns=["doc_id"])
    man = appended.manifest(v)
    assert man["delete_files"][0]["schema"]["fields"][0]["name"] == "doc_id"
    for f in man["delete_files"]:
        del f["schema"]
    path = os.path.join(appended.root, f"snap-{v:06d}", "manifest.json")
    with open(path, "w") as fh:
        json.dump(man, fh)
    with pytest.raises(ValueError, match=man["delete_files"][0]["path"]):
        appended.delete_rows(spark)
    with pytest.raises(ValueError, match="no recorded key schema"):
        appended.read(spark)
