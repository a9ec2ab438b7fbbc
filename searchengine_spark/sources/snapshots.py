"""Snapshot-versioned parquet tables — the sandbox stand-in for the
Iceberg tables the north rule targets ("term-partitioned index segments
written back to Iceberg", "Iceberg table of Common-Crawl-style web
pages").  No Iceberg runtime jars ship in this container, so the layer
reimplements the *semantics* the engine depends on over plain parquet +
JSON manifests; on a real cluster every call here maps 1:1 onto an
Iceberg catalog operation (noted per method).

Semantics provided (and their Iceberg analogue):

* ``commit(df, mode="append")`` — a new table *snapshot*.  Append
  commits reuse the parent snapshot's data files by reference (the
  manifest lists files, not copies), so appending 1k docs to a 10^12-doc
  table writes only the new files — Iceberg's append snapshot +
  manifest list.
* ``_current.json`` atomic pointer swap (``os.replace``) — the catalog's
  current-snapshot pointer.  Readers resolve the pointer once, then read
  an immutable file list: writers never disturb in-flight reads (MVCC),
  and a crashed commit (data written, pointer not swapped) is simply
  invisible and garbage-collected by the next commit at that version.
* ``read(spark, version=…)`` / ``read(spark, tag=…)`` — time travel
  (Iceberg ``VERSION AS OF`` / tag refs).
* ``rollback(version)`` — metadata-only pointer swap, O(1) regardless of
  table size (Iceberg ``rollback_to_snapshot``).
* ``tag(name)`` — named refs (Iceberg tags).
* ``expire_snapshots(keep_last=…)`` — removes expired snapshot
  *metadata* and deletes only data files no retained snapshot
  references (file-level refcounting — the part naive "delete old
  dirs" gets wrong when appends share files).
* per-file column min/max/null-count stats in the manifest (read from
  parquet footers at commit time) and ``read(…, predicates=[…])`` —
  Iceberg's data-file stats + scan planning.  At 10^12 docs a
  term-bucket or docID-range read must *plan away* the files whose
  stat ranges cannot match before Spark ever lists them; the residual
  predicate is still applied as a normal DataFrame filter, so pruning
  is purely an optimization and never changes results.
* ``read_appends(spark, from_version, to_version)`` — the incremental
  scan (Iceberg's ``incremental append scan``): exactly the rows added
  by the append snapshots in ``(from, to]``, resolved from manifests
  alone.  This is what makes an O(delta) downstream refresh possible:
  a consumer indexes ONLY the new crawl rows instead of re-reading a
  10^12-row table to diff it.
* ``commit(…, deletes=…, equality_columns=…)`` — row-level equality
  deletes (Iceberg v2 merge-on-read): the delete rows are written as
  *delete files* in the snapshot; data files they may affect are never
  rewritten.  Every data file carries a *sequence number* (the version
  that wrote it) and a delete file applies only to data files with a
  LOWER sequence number — so a commit that deletes a key and re-adds
  it in the same snapshot keeps the new row (Iceberg's sequence-number
  rule).  ``read`` applies the deletes (``drop_deleted``: one
  broadcast anti-join over the seq-stamped layers) when the equality
  columns are table columns; index-shaped tables whose delete key
  lives *inside* an encoded column (doc_ids inside VB posting blocks)
  read with ``apply_deletes=False`` and apply ``delete_rows`` after
  decoding (pipeline/refresh.py).  Each delete-file entry records its
  key schema, so the delete rows are planned from the manifest alone.
* ``rewrite_deletes(spark)`` — major compaction of the delete layer:
  rewrites only the data files an existing delete file can apply to,
  carries newer files by reference, and commits a delete-free
  snapshot (Iceberg ``rewrite_data_files`` + drop of the applied
  delete files).

Per-partition lineage: every manifest entry records one row per parquet
file (task partition) with row count, byte size and row-group count,
read from parquet footers without a Spark job — the same ledger
``pipeline/checkpoint.py`` keeps per stage, here per snapshot.

Single-writer by design (commits are driver-coordinated, as in the
reference's one-process indexer — /root/reference/main_disk.py:74); a
lost-update check still guards against accidental concurrent commits by
verifying the parent pointer did not move while the data was written.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sqltext import sql_literal

_CURRENT = "_current.json"
_TAGS = "_tags.json"
MANIFEST = "manifest.json"


def _snap_name(version: int) -> str:
    return f"snap-{version:06d}"


class SnapshotTable:
    """A snapshot-versioned table rooted at a directory."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- metadata ----------------------------------------------------------

    def _pointer(self) -> dict | None:
        try:
            with open(os.path.join(self.root, _CURRENT)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def current_version(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else ptr["version"]

    def manifest(self, version: int) -> dict:
        path = os.path.join(self.root, _snap_name(version), MANIFEST)
        with open(path) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All committed snapshots, oldest first (expired ones absent)."""
        out = []
        for name in sorted(os.listdir(self.root)):
            mpath = os.path.join(self.root, name, MANIFEST)
            if name.startswith("snap-") and os.path.exists(mpath):
                with open(mpath) as fh:
                    out.append(json.load(fh))
        return out

    def tags(self) -> dict[str, int]:
        try:
            with open(os.path.join(self.root, _TAGS)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    # -- write path ---------------------------------------------------------

    def commit(self, df: DataFrame | None, mode: str = "append",
               note: str | None = None,
               properties: dict | None = None,
               deletes: DataFrame | None = None,
               equality_columns: list[str] | None = None) -> int:
        """Write ``df`` as a new snapshot; returns its version.

        ``mode="append"`` adds the written files to the parent
        snapshot's file list (parent files are referenced, never
        rewritten); ``mode="overwrite"`` starts the list fresh.  The
        snapshot becomes visible only at the final atomic pointer swap.
        ``properties`` are table properties (Iceberg's): inherited from
        the parent snapshot and overridden per key.

        ``deletes`` (with ``equality_columns``) writes an equality
        delete file alongside the appended data (Iceberg v2
        merge-on-read): rows of any OLDER sequence number matching a
        delete row on the equality columns are dropped at read time;
        rows written by THIS commit are unaffected, so a
        delete-and-re-add of the same key in one commit keeps the new
        row.  ``df=None`` commits deletes (or properties) alone.
        Delete commits require ``mode="append"`` — an overwrite
        discards every older row already.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown commit mode: {mode!r}")
        if deletes is not None:
            if not equality_columns:
                raise ValueError(
                    "deletes requires equality_columns naming the key "
                    "columns the delete rows match on")
            if mode != "append":
                raise ValueError(
                    "delete commits use mode='append' — an overwrite "
                    "already discards all older rows")
            missing = [c for c in equality_columns
                       if c not in deletes.columns]
            if missing:
                raise ValueError(
                    f"delete frame lacks equality columns {missing}")
        if df is None and deletes is None and properties is None:
            raise ValueError("empty commit: no data, deletes or properties")
        parent = self.current_version()
        if df is None and parent is None:
            raise ValueError(
                "delete/properties-only commit needs an existing table")
        version, snap_dir = self._allocate_version()
        data_dir = os.path.join(snap_dir, "data")

        t0 = time.time()
        if df is not None:
            df.write.mode("overwrite").parquet(data_dir)
        new_delete_files: list[dict] = []
        if deletes is not None:
            del_dir = os.path.join(snap_dir, "deletes")
            keys = deletes.select(*equality_columns)
            keys.write.mode("overwrite").parquet(del_dir)
            new_delete_files = _file_lineage(self.root, del_dir)
            for f in new_delete_files:
                f["seq"] = version
                f["equality_columns"] = list(equality_columns)
                f["schema"] = keys.schema.jsonValue()
        wall = time.time() - t0

        new_files = _file_lineage(self.root, data_dir) \
            if df is not None else []
        for f in new_files:
            f["seq"] = version
        schema = df.schema.jsonValue() if df is not None else None
        delete_files = new_delete_files
        if mode == "append" and parent is not None:
            pm = self.manifest(parent)
            if schema is None:
                schema = pm["schema"]
            elif pm["schema"] != schema:
                # Iceberg-style additive evolution: appending with a
                # superset schema widens the table (old files read the
                # new nullable columns as null — Spark's by-name parquet
                # resolution under a pinned schema). Anything else
                # (dropped columns, type changes) fails loudly.
                if not _is_additive_evolution(pm["schema"], schema):
                    raise ValueError(
                        "append schema is not an additive evolution of "
                        "the table schema (only adding nullable columns "
                        "is supported); use mode='overwrite' to "
                        "redefine the table")
            data_files = pm["data_files"] + new_files
            delete_files = pm.get("delete_files", []) + new_delete_files
        else:
            data_files = new_files
        if delete_files:
            eq_sets = {tuple(f["equality_columns"]) for f in delete_files}
            if len(eq_sets) > 1:
                raise ValueError(
                    f"mixed equality-column sets in one table: {eq_sets} "
                    "— this layer supports one delete key per table")

        props = {}
        if parent is not None:
            props.update(self.manifest(parent).get("properties", {}))
        props.update(properties or {})
        return self._finish_commit(version, parent, mode, note, schema,
                                   data_files, len(new_files), wall,
                                   props, delete_files)

    def properties(self, version: int | None = None) -> dict:
        """Table properties as of a snapshot (default: current)."""
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"empty table at {self.root}")
        return self.manifest(version).get("properties", {})

    def _allocate_version(self) -> tuple[int, str]:
        """Next snapshot id + its dir.  Allocates past every COMMITTED
        snapshot, not parent+1: after a rollback the parent is old but
        later committed snapshots still exist (Iceberg likewise
        allocates fresh ids after rollback).  Uncommitted dirs (crashed
        commits) don't advance the counter — their slot is reclaimed
        here.  Expired dirs that still hold shared data files can't
        collide: a file is only ever referenced by the snapshot that
        wrote it or its descendants, so any such dir sits below the
        newest committed version."""
        committed = [int(n[5:]) for n in os.listdir(self.root)
                     if n.startswith("snap-")
                     and os.path.exists(os.path.join(self.root, n, MANIFEST))]
        version = max(committed, default=-1) + 1
        snap_dir = os.path.join(self.root, _snap_name(version))
        # A crashed earlier commit may have left this version's dir
        # without a manifest/pointer — it was never visible; reclaim it.
        if os.path.exists(snap_dir):
            if os.path.exists(os.path.join(snap_dir, MANIFEST)):
                raise RuntimeError(
                    f"snapshot v{version} already committed but is not "
                    "current — concurrent writer?")
            shutil.rmtree(snap_dir)
        return version, snap_dir

    def _finish_commit(self, version, parent, mode, note, schema,
                       data_files, n_new, wall,
                       properties: dict | None = None,
                       delete_files: list[dict] | None = None) -> int:
        """Manifest + pointer swap shared by ``commit`` and
        ``compact`` — the snapshot becomes visible only here."""
        if self.current_version() != parent:
            raise RuntimeError(
                "current snapshot moved during commit (concurrent "
                "writer) — retry against the new parent")
        man = {
            "version": version,
            "parent": parent,
            "mode": mode,
            "note": note,
            "schema": schema,
            "properties": properties or {},
            "data_files": data_files,
            "delete_files": delete_files or [],
            "new_files": n_new,
            "total_rows": sum(f["rows"] for f in data_files),
            "write_wall_s": round(wall, 3),
        }
        snap_dir = os.path.join(self.root, _snap_name(version))
        os.makedirs(snap_dir, exist_ok=True)
        _atomic_json(os.path.join(snap_dir, MANIFEST), man)
        _atomic_json(os.path.join(self.root, _CURRENT),
                     {"version": version})
        return version

    def rollback(self, version: int) -> None:
        """Point the table back at an older snapshot — metadata only."""
        self.manifest(version)  # raises if expired/unknown
        _atomic_json(os.path.join(self.root, _CURRENT),
                     {"version": version})

    def tag(self, name: str, version: int | None = None) -> None:
        version = self.current_version() if version is None else version
        if version is None:
            raise FileNotFoundError(f"empty table at {self.root}")
        self.manifest(version)  # raises if expired/unknown
        tags = self.tags()
        tags[name] = version
        _atomic_json(os.path.join(self.root, _TAGS), tags)

    # -- read path ----------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None,
             tag: str | None = None,
             predicates: list[tuple] | None = None,
             apply_deletes: bool = True,
             with_seq: bool = False) -> DataFrame:
        """The table as of a snapshot (default: current) — time travel.

        Reads exactly the manifest's immutable file list with the
        manifest's schema pinned, so a concurrent commit (or even a
        rollback) cannot change what this DataFrame scans.

        ``predicates`` — ``[(column, op, value), …]`` with ``op`` in
        ``= < <= > >= in`` — plans away data files whose manifest
        min/max stats cannot satisfy the conjunction (Iceberg scan
        planning), then applies the same predicates as a DataFrame
        filter, so results are identical to filtering the full read.

        Equality deletes (``commit(deletes=…)``) are applied by default
        when their key columns are table columns; ``apply_deletes=
        False`` returns the raw data rows (callers whose delete key is
        inside an encoded column decode first, then apply
        ``delete_rows``).  ``with_seq=True`` adds a ``_seq`` column
        (the sequence number of the commit that wrote each row's file)
        — what the post-decode delete rule keys on.
        """
        if tag is not None:
            tags = self.tags()
            if tag not in tags:
                raise KeyError(f"unknown tag {tag!r}")
            version = tags[tag]
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"empty table at {self.root}")
        man = self.manifest(version)
        files = man["data_files"]
        if predicates:
            files = [f for f in files if _file_may_match(f, predicates)]
        schema = StructType.fromJson(man["schema"])
        delete_files = man.get("delete_files", [])
        dele = None
        if delete_files and apply_deletes:
            eq_cols = delete_files[0]["equality_columns"]
            table_cols = {f.name for f in schema.fields}
            if not set(eq_cols) <= table_cols:
                raise ValueError(
                    f"this snapshot carries equality deletes on "
                    f"{eq_cols}, which are not table columns — read "
                    "with apply_deletes=False and apply delete_rows() "
                    "after decoding (pipeline/refresh.py does this for "
                    "index tables)")
            dele = self.delete_rows(spark, version)

        if dele is None and not with_seq:
            # fast path: no merge-on-read layering needed
            paths = [os.path.join(self.root, f["path"]) for f in files]
            if not paths:  # a committed empty table still reads cleanly
                df = spark.createDataFrame([], schema)
            else:
                df = spark.read.schema(schema).parquet(*paths)
        else:
            # Seq-layered read: one scan per distinct sequence number
            # (= commits since the last overwrite — bounded and small
            # with regular compaction), each stamped with its ``_seq``;
            # the union then goes through ONE broadcast anti-join with
            # the delete rows (``drop_deleted``).
            df = self._seq_layers(spark, files, schema)
            if dele is not None:
                df = drop_deleted(df, dele)
            if not with_seq:
                df = df.drop("_seq")
        if predicates:
            df = df.filter(_predicates_column(predicates))
        return df

    def _seq_layers(self, spark: SparkSession, files: list[dict],
                    schema: StructType | None = None) -> DataFrame:
        """The union of one scan per sequence number over ``files``,
        each row stamped with its file's ``_seq``.  Scans use ``schema``,
        or else the schema recorded on that sequence number's entries."""
        by_seq: dict[int, list[dict]] = {}
        for f in files:
            by_seq.setdefault(int(f.get("seq", 0)), []).append(f)
        if not by_seq:
            return spark.createDataFrame([], schema).withColumn(
                "_seq", F.lit(0).cast("int"))
        parts = [spark.read.schema(schema or StructType.fromJson(
                     group[0]["schema"]))
                 .parquet(*[os.path.join(self.root, f["path"])
                            for f in group])
                 .selectExpr("*", f"CAST({seq} AS INT) AS _seq")
                 for seq, group in sorted(by_seq.items())]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def delete_rows(self, spark: SparkSession,
                    version: int | None = None) -> DataFrame | None:
        """The snapshot's equality-delete rows (``equality columns`` +
        ``_seq``, the sequence number of the commit that wrote them;
        a key deleted by several commits has one row per commit), or
        None when the snapshot carries no delete files.  Planned from
        the manifest alone: one scan per sequence number with the key
        schema recorded at commit, so building the frame starts no
        Spark job; an entry without a recorded schema raises
        ``ValueError``.  Consumers whose delete key is not a table
        column (index tables: doc_ids live inside encoded posting
        blocks) read with ``apply_deletes=False`` and pass this frame
        to :func:`drop_deleted` after decoding."""
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"empty table at {self.root}")
        delete_files = self.manifest(version).get("delete_files", [])
        if not delete_files:
            return None
        for f in delete_files:
            if "schema" not in f:
                raise ValueError(
                    f"delete file {f['path']} has no recorded key schema "
                    "in the manifest; its schema is never inferred")
        return self._seq_layers(spark, delete_files)

    def read_appends(self, spark: SparkSession, from_version: int,
                     to_version: int | None = None) -> DataFrame:
        """Incremental scan (Iceberg's incremental append scan):
        exactly the rows ADDED by the append snapshots in
        ``(from_version, to_version]``, resolved from manifests alone —
        the O(delta) input of a downstream refresh.  Raises when the
        range contains a non-append snapshot (overwrite/compaction
        rewrites history; there is no "appended rows" answer) or a
        delete commit (the change set is not purely additive — consume
        ``delete_rows`` alongside), or when ``from_version`` is not an
        ancestor of ``to_version`` (divergent after a rollback)."""
        if to_version is None:
            to_version = self.current_version()
            if to_version is None:
                raise FileNotFoundError(f"empty table at {self.root}")
        self.manifest(from_version)  # raises if expired/unknown
        chain = []
        v = to_version
        while v is not None and v != from_version:
            man = self.manifest(v)
            chain.append(man)
            v = man["parent"]
        if v != from_version:
            raise ValueError(
                f"v{from_version} is not an ancestor of v{to_version} "
                "(history diverged after a rollback?)")
        new_paths: list[str] = []
        for man in chain:
            if man["mode"] != "append":
                raise ValueError(
                    f"snapshot v{man['version']} is mode="
                    f"{man['mode']!r} — incremental append scan only "
                    "spans append snapshots")
            own = _snap_name(man["version"]) + "/deletes/"
            if any(f["path"].startswith(own)
                   for f in man.get("delete_files", [])):
                raise ValueError(
                    f"snapshot v{man['version']} carries equality "
                    "deletes — the change set is not purely additive; "
                    "read delete_rows() alongside read_appends")
            parent_paths = {f["path"] for f in
                            self.manifest(man["parent"])["data_files"]} \
                if man["parent"] is not None else set()
            new_paths.extend(f["path"] for f in man["data_files"]
                             if f["path"] not in parent_paths)
        schema = StructType.fromJson(self.manifest(to_version)["schema"])
        if not new_paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(self.root, p) for p in new_paths])

    def plan_files(self, predicates: list[tuple],
                   version: int | None = None) -> dict:
        """Scan-planning introspection: how many data files the
        predicate conjunction keeps vs skips at a snapshot (driver-side
        manifest arithmetic only — no Spark job, no file listing)."""
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"empty table at {self.root}")
        files = self.manifest(version)["data_files"]
        kept = [f for f in files if _file_may_match(f, predicates)]
        return {
            "version": version,
            "total_files": len(files),
            "kept_files": len(kept),
            "skipped_files": len(files) - len(kept),
            "kept_rows": sum(f["rows"] for f in kept),
            "kept_paths": [f["path"] for f in kept],
        }

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The snapshot history as a DataFrame — Iceberg's
        ``<table>.snapshots`` metadata table.  Driver-side by design:
        its size is the number of snapshots, not the table size."""
        from pyspark.sql.types import (
            IntegerType, LongType, StringType, StructField,
        )

        schema = StructType([
            StructField("version", IntegerType(), False),
            StructField("parent", IntegerType(), True),
            StructField("mode", StringType(), False),
            StructField("note", StringType(), True),
            StructField("total_rows", LongType(), False),
            StructField("new_files", IntegerType(), False),
        ])
        rows = [(m["version"], m["parent"], m["mode"], m["note"],
                 m["total_rows"], m["new_files"]) for m in self.history()]
        return spark.createDataFrame(rows, schema)

    # -- maintenance ---------------------------------------------------------

    def compact(self, spark: SparkSession, target_mb: int = 128,
                min_input_files: int = 2,
                note: str | None = None) -> int | None:
        """Bin-pack small data files into ~``target_mb`` outputs —
        Iceberg's ``rewrite_data_files`` (binpack strategy).

        Streaming micro-batch appends accrete small files; at 10^12
        docs the fix must rewrite *only those files*, never the table:
        files under 3/4 of the target size are read back and coalesced
        (no shuffle), files at/above it are carried by reference.  The
        result is committed as a new snapshot (time travel to the
        uncompacted version still works; readers pinned to it are
        undisturbed), with a row-count check before the pointer swap.
        Returns the new version, or ``None`` when fewer than
        ``min_input_files`` files qualify (nothing worth rewriting).
        """
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"empty table at {self.root}")
        man = self.manifest(cur)
        threshold = target_mb * 1024 * 1024 * 3 // 4
        small = [f for f in man["data_files"] if f["bytes"] < threshold]
        if len(small) < min_input_files:
            return None
        big = [f for f in man["data_files"] if f["bytes"] >= threshold]

        version, snap_dir = self._allocate_version()
        data_dir = os.path.join(snap_dir, "data")
        schema = StructType.fromJson(man["schema"])
        # Bin-pack only across files the SAME set of equality deletes
        # applies to (a delete at seq d applies to rows with seq < d):
        # merging across a delete boundary would re-stamp rows and
        # silently apply/un-apply that delete. The merged file takes
        # the max input seq — same delete class, and every FUTURE
        # delete (seq > this commit) still applies. With no delete
        # files there is a single class and everything can merge
        # (Iceberg's sequence-number inheritance on rewrite).
        del_seqs = sorted({int(f["seq"])
                           for f in man.get("delete_files", [])})

        def _dclass(seq: int) -> int:
            return sum(1 for d in del_seqs if d > seq)

        by_class: dict[int, list[dict]] = {}
        for f in small:
            by_class.setdefault(_dclass(int(f.get("seq", 0))), []).append(f)
        t0 = time.time()
        new_files: list[dict] = []
        rewritten: list[dict] = []
        for cls, group in sorted(by_class.items()):
            if len(group) < 2:
                big.extend(group)  # a lone small file: carry as-is
                continue
            paths = [os.path.join(self.root, f["path"]) for f in group]
            n_out = max(1, round(sum(f["bytes"] for f in group)
                                 / (target_mb * 1024 * 1024)))
            seq = max(int(f.get("seq", 0)) for f in group)
            sub = os.path.join(data_dir, f"class={cls}")
            (spark.read.schema(schema).parquet(*paths)
             .coalesce(n_out).write.mode("overwrite").parquet(sub))
            part = _file_lineage(self.root, sub)
            for f in part:
                f["seq"] = seq
            new_files.extend(part)
            rewritten.extend(group)
        wall = time.time() - t0
        if not rewritten:
            shutil.rmtree(snap_dir, ignore_errors=True)
            return None
        want = sum(f["rows"] for f in rewritten)
        got = sum(f["rows"] for f in new_files)
        if got != want:
            shutil.rmtree(snap_dir, ignore_errors=True)
            raise RuntimeError(
                f"compaction row-count mismatch ({got} != {want}) — "
                "snapshot not committed")
        return self._finish_commit(
            version, cur, "compact",
            note or f"binpack {len(rewritten)} files -> {len(new_files)}",
            man["schema"], big + new_files, len(new_files), wall,
            man.get("properties", {}), man.get("delete_files", []))

    def rewrite_deletes(self, spark: SparkSession,
                        note: str | None = None) -> int | None:
        """Materialize the equality-delete layer (Iceberg
        ``rewrite_data_files`` + ``rewrite_position_delete_files``):
        data files no delete can apply to (seq ≥ every delete's seq)
        are carried by reference; older files are read back, the
        deletes anti-joined, and the survivors rewritten at the new
        snapshot's seq (safe: the table is delete-free afterwards).
        Readers pinned to older versions still see the merge-on-read
        view.  Returns the new version, or None when the table carries
        no delete files."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"empty table at {self.root}")
        man = self.manifest(cur)
        delete_files = man.get("delete_files", [])
        if not delete_files:
            return None
        max_del_seq = max(int(f["seq"]) for f in delete_files)
        carry = [f for f in man["data_files"]
                 if int(f.get("seq", 0)) >= max_del_seq]
        rewrite = [f for f in man["data_files"]
                   if int(f.get("seq", 0)) < max_del_seq]

        version, snap_dir = self._allocate_version()
        data_dir = os.path.join(snap_dir, "data")
        schema = StructType.fromJson(man["schema"])
        dele = self.delete_rows(spark, cur)
        t0 = time.time()
        new_files: list[dict] = []
        if rewrite:
            merged = drop_deleted(
                self._seq_layers(spark, rewrite, schema), dele).drop("_seq")
            merged.write.mode("overwrite").parquet(data_dir)
            new_files = _file_lineage(self.root, data_dir)
            for f in new_files:
                f["seq"] = version
        wall = time.time() - t0
        return self._finish_commit(
            version, cur, "rewrite",
            note or (f"applied {len(delete_files)} delete files over "
                     f"{len(rewrite)} data files"),
            man["schema"], carry + new_files, len(new_files), wall,
            man.get("properties", {}), [])

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop all but the newest ``keep_last`` snapshots (tagged and
        current snapshots are always retained).  Data files are deleted
        only when no retained manifest references them — append
        snapshots share files with their parents, so expiring v0 after
        an append at v1 deletes nothing.
        """
        hist = self.history()
        versions = [m["version"] for m in hist]
        keep = set(versions[-keep_last:]) if keep_last else set()
        keep.update(self.tags().values())
        cur = self.current_version()
        if cur is not None:
            keep.add(cur)

        referenced = set()
        for m in hist:
            if m["version"] in keep:
                referenced.update(f["path"] for f in m["data_files"])
                referenced.update(f["path"]
                                  for f in m.get("delete_files", []))

        dropped_files = 0
        dropped_snapshots = []
        for m in hist:
            v = m["version"]
            if v in keep:
                continue
            for f in m["data_files"] + m.get("delete_files", []):
                path = f["path"]
                # Only this snapshot's own dir is its responsibility;
                # inherited files belong to the ancestor that wrote them.
                if path.startswith(_snap_name(v) + "/") \
                        and path not in referenced:
                    full = os.path.join(self.root, path)
                    if os.path.exists(full):
                        os.remove(full)
                        dropped_files += 1
            os.remove(os.path.join(self.root, _snap_name(v), MANIFEST))
            _prune_empty(os.path.join(self.root, _snap_name(v)))
            dropped_snapshots.append(v)
        return {"dropped_snapshots": dropped_snapshots,
                "dropped_files": dropped_files,
                "retained": sorted(keep)}


def drop_deleted(rows: DataFrame, deletes: DataFrame) -> DataFrame:
    """The sequence-number rule: keep a row unless a delete with the
    same equality key has ``_seq`` GREATER than the row's ``_seq`` (a
    re-add in the delete's own commit survives).  ``rows`` carries
    ``_seq`` and keeps it; ``deletes`` is a :meth:`SnapshotTable.delete_rows`
    frame — delta-sized, so it is the build side of ONE broadcast
    left-anti join, with no aggregate, planned by one ``spark.sql``
    statement."""
    on = " AND ".join([f"r.`{c}` = d.`{c}`" for c in deletes.columns
                       if c != "_seq"] + ["d._seq > r._seq"])
    return rows.sparkSession.sql(
        "SELECT /*+ BROADCAST(d) */ r.* FROM {rows} r "
        "LEFT ANTI JOIN {deletes} d ON " + on, rows=rows, deletes=deletes)


def _file_lineage(root: str, data_dir: str) -> list[dict]:
    """Per-partition lineage rows for every parquet file under
    ``data_dir`` — paths stored relative to the table root so the table
    directory is relocatable.  Each entry carries per-column
    min/max/null-count stats aggregated across the file's row groups
    (Iceberg data-file stats), read from the parquet footer without a
    Spark job."""
    import pyarrow.parquet as pq

    entries = []
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, name)
        meta = pq.ParquetFile(path).metadata
        entries.append({
            "path": os.path.relpath(path, root),
            "rows": meta.num_rows,
            "bytes": os.path.getsize(path),
            "row_groups": meta.num_row_groups,
            "stats": _footer_stats(meta),
        })
    return entries


# Longest string bound stored in a manifest. A truncated prefix stays a
# valid LOWER bound; a truncated prefix is NOT a valid upper bound
# (Iceberg increments the last byte — this layer just drops the bound),
# so oversized maxima are stored as null = "unbounded above".
_MAX_STAT_CHARS = 64


def _footer_stats(meta) -> dict:
    """``{column: {"min": x, "max": y, "nulls": n}}`` for every
    top-level column whose parquet statistics are present and
    JSON-representable (int/float/bool/str; binary, nested and
    temporal columns carry no stats and are simply never pruned on)."""
    import math

    agg: dict[str, dict] = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested field — prune only on top level
                continue
            st = col.statistics
            cur = agg.setdefault(name, {"min": None, "max": None,
                                        "nulls": 0, "ok": True})
            if st is not None and st.null_count is not None:
                cur["nulls"] += st.null_count
            if st is None or not st.has_min_max:
                # An all-null row group legitimately has no min/max —
                # it widens nothing. Any other stats-less group leaves
                # the column unprunable for the whole file.
                if not (st is not None
                        and st.null_count == group.num_rows):
                    cur["ok"] = False
                continue
            lo, hi = st.min, st.max
            if not (_stat_value_ok(lo) and _stat_value_ok(hi)):
                cur["ok"] = False
                continue
            if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
                cur["ok"] = False  # NaN ordering poisons the range
                continue
            cur["min"] = lo if cur["min"] is None else min(cur["min"], lo)
            cur["max"] = hi if cur["max"] is None else max(cur["max"], hi)

    out = {}
    for name, cur in agg.items():
        if not cur["ok"]:
            continue
        lo, hi = cur["min"], cur["max"]
        if isinstance(lo, str) and len(lo) > _MAX_STAT_CHARS:
            lo = lo[:_MAX_STAT_CHARS]  # prefix: still a valid lower bound
        if isinstance(hi, str) and len(hi) > _MAX_STAT_CHARS:
            hi = None  # prefix would under-state the upper bound
        out[name] = {"min": lo, "max": hi, "nulls": cur["nulls"]}
    return out


def _is_additive_evolution(old_schema: dict, new_schema: dict) -> bool:
    """True when ``new_schema`` keeps every existing column (same type)
    and only ADDS nullable ones — the safe subset of Iceberg schema
    evolution this layer supports."""
    old_fields = {f["name"]: f for f in old_schema["fields"]}
    new_fields = {f["name"]: f for f in new_schema["fields"]}
    for name, f in old_fields.items():
        g = new_fields.get(name)
        if g is None or g["type"] != f["type"]:
            return False
    return all(f["nullable"] for name, f in new_fields.items()
               if name not in old_fields)


def _stat_value_ok(v) -> bool:
    return isinstance(v, (int, float, str, bool)) \
        and not isinstance(v, bytes)


_OPS = ("=", "<", "<=", ">", ">=", "in")


def _file_may_match(entry: dict, predicates: list[tuple]) -> bool:
    """Conservative footer-stats check: False only when the file
    provably contains no row satisfying the AND of ``predicates``.
    Files from manifests written before stats existed (no ``stats``
    key) are always kept."""
    stats = entry.get("stats") or {}
    for col, op, val in predicates:
        if op not in _OPS:
            raise ValueError(f"unknown predicate op {op!r}")
        s = stats.get(col)
        if s is None:
            continue  # no stats for this column — cannot prune
        lo, hi = s["min"], s["max"]
        if lo is None and hi is None:
            if s.get("nulls") == entry["rows"]:
                return False  # all-null column: no comparison matches
            continue
        try:
            if op == "in":
                vals = list(val)
                if not any(_in_range(v, lo, hi) for v in vals):
                    return False
            elif op == "=":
                if not _in_range(val, lo, hi):
                    return False
            elif op == "<":
                if lo is not None and not lo < val:
                    return False
            elif op == "<=":
                if lo is not None and not lo <= val:
                    return False
            elif op == ">":
                if hi is not None and not hi > val:
                    return False
            elif op == ">=":
                if hi is not None and not hi >= val:
                    return False
        except TypeError:
            continue  # incomparable literal — keep the file
    return True


def _in_range(v, lo, hi) -> bool:
    if lo is not None and v < lo:
        return False
    if hi is not None and v > hi:
        return False
    return True


def _predicates_column(predicates: list[tuple]):
    """The same conjunction as a Spark Column — applied after pruning
    so ``read(predicates=…)`` is exactly ``read().filter(…)``.  Parsed
    from SQL text: a Column built per literal costs a py4j round trip
    per value, and a query batch's bucket list holds dozens."""
    text = []
    for col, op, val in predicates:
        c = "`" + col.replace("`", "``") + "`"
        if op == "in":
            vals = list(val)
            text.append(f"{c} IN ({', '.join(map(sql_literal, vals))})"
                        if vals else "false")
        else:
            text.append(f"{c} {op} {sql_literal(val)}")
    return F.expr(" AND ".join(text))


def _atomic_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _prune_empty(snap_dir: str) -> None:
    """Remove a snapshot dir if expiry emptied it (its data files may
    outlive it when a retained append snapshot references them)."""
    for _cur, _dirs, files in os.walk(snap_dir):
        if any(not f.startswith(("_", ".")) for f in files):
            return
    shutil.rmtree(snap_dir, ignore_errors=True)
