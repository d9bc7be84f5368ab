"""Parquet-backed quad store with a snapshot commit log and delta
commits.

The persistent backend for graphs bigger than memory. In a production
deployment the quad table is an Iceberg table and every mutation is a
single MERGE/DELETE commit; this sandbox has no Iceberg runtime jar, so the
same commit discipline is reproduced with a minimal snapshot protocol:

```
root/
  _meta.json                  {"uri": ..., "version": 1}
  CURRENT                     text: name of the live snapshot, e.g. "v00000003"
  snapshots/v00000003/        parquet dir, Hive-partitioned graph=<g>/salt=<b>
  snapshots/v00000003.json    commit manifest: op, rows, parent, rewritten parts
```

* Readers resolve ``CURRENT`` then scan one snapshot directory with the
  fixed file schema ``(subj, pred, obj, graph, salt int)``: no inference
  job, and an all-deleted snapshot reads as the empty table. Filters and
  column pruning push into the scan; ``graph``/``salt`` are partition
  columns, so graph-scoped operators get partition pruning for free.
* **Delta commits** (Iceberg's copy-on-write row-level operations at
  ``(graph, salt)`` partition granularity): a mutation hands the backend
  the rows it adds and the rows it removes (``QuadStoreBase._commit``).
  The next snapshot
  1. HARD-LINKS every parent file of each partition that loses no row
     (no rewrite, no storage growth — the link count is the only change);
  2. rewrites each partition that loses a row (found by one distinct over
     the removed rows) as its parent rows minus the removed ones;
  3. appends the added rows as one new file per ``graph=/salt=`` dir.
  A merge writes only its fresh quads; a replayed batch writes no file.
  Every data file holds live rows only (no tombstones), so any parquet
  reader sees the table as it is.
* **Fold bound:** a commit that would leave more than ``FOLD_FILES`` data
  files in a partition folds that partition into one file, so repeated
  small appends keep the file count per partition bounded.
* The manifest's ``rows`` sums the data files' parquet footers, read on
  the driver — no Spark job.
* Writers build the next snapshot in a directory that holds nothing else
  (an orphan left at that name by a crashed writer is removed first), then
  commit by atomically replacing ``CURRENT`` (write-temp + ``os.replace``).
  A crashed writer leaves an orphan directory, never a corrupt table — the
  same observable guarantee as an Iceberg commit. Snapshot expiry is
  link-safe: unlinking an old snapshot's files never affects a newer one
  that still references the same inodes.
* Data is laid out by **graph + salted subject** so one hot subject
  (or the ``rdf:type`` fan-in) cannot skew file sizes; see
  pipeline/materialize.py for the salting rationale.

This mirrors the role of the reference's Blazegraph backend
(/root/reference/blazegraph_store.go) — the durable, larger-than-memory
store behind the same GraphStore operator set.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ontograph_spark.store.base import QUAD_COLS, QUAD_SCHEMA, QuadStoreBase
from ontograph_spark.terms import local_frame

CURRENT_FILE = "CURRENT"
SNAPSHOT_DIR = "snapshots"
#: a commit that would leave more data files than this in one (graph,
#: salt) partition folds the partition into one file
FOLD_FILES = 8
#: the data files' schema: the quad columns plus the salt partition column
FILE_SCHEMA = StructType(QUAD_SCHEMA.fields + [StructField("salt", IntegerType())])


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, path)


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:  # cross-device or FS without hard links
        shutil.copy2(src, dst)


def _data_files(path: str) -> list[str]:
    """The parquet data files under a snapshot or partition dir."""
    return [
        os.path.join(dp, f)
        for dp, _dn, fns in os.walk(path)
        for f in fns
        if f.endswith(".parquet")
    ]


class ParquetQuadStore(QuadStoreBase):
    """One named graph over a snapshot-versioned parquet quad table."""

    def __init__(
        self,
        spark: SparkSession,
        uri: str,
        root: str,
        write_partitions: int | None = None,
        salt_buckets: int = 16,
    ) -> None:
        super().__init__(spark, uri)
        self.root = root
        self.write_partitions = write_partitions
        self.salt_buckets = salt_buckets
        os.makedirs(os.path.join(root, SNAPSHOT_DIR), exist_ok=True)
        meta_path = os.path.join(root, "_meta.json")
        if not os.path.exists(meta_path):
            _atomic_write(meta_path, json.dumps({"uri": uri, "version": 1}))

    # -- snapshot protocol ------------------------------------------------

    def current_snapshot(self) -> str | None:
        path = os.path.join(self.root, CURRENT_FILE)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read().strip() or None

    def _snapshot_path(self, name: str) -> str:
        return os.path.join(self.root, SNAPSHOT_DIR, name)

    def _next_snapshot_name(self) -> str:
        cur = self.current_snapshot()
        n = int(cur[1:]) + 1 if cur else 1
        return f"v{n:08d}"

    def _salt_col(self):
        return F.pmod(F.xxhash64(F.col("subj")), F.lit(self.salt_buckets)).cast(
            "int"
        )

    def _scan(self, path: str) -> DataFrame:
        """One snapshot dir with its partition columns, read with the fixed
        file schema (no inference job)."""
        return self.spark.read.schema(FILE_SCHEMA).parquet(path)

    def _read_snapshot(self, path: str) -> DataFrame:
        return self._scan(path).select(*QUAD_COLS)

    def _df(self) -> DataFrame:
        cur = self.current_snapshot()
        if cur is None:
            return local_frame(self.spark, [], QUAD_SCHEMA)
        return self._read_snapshot(self._snapshot_path(cur))

    def _list_partitions(self, base: str) -> dict[tuple[str, int], str]:
        """(graph, salt) → partition dir path under one snapshot dir
        (decoded from the Hive-escaped directory names Spark writes)."""
        out: dict[tuple[str, int], str] = {}
        for gdir in os.listdir(base):
            if not gdir.startswith("graph="):
                continue
            graph = unquote(gdir[len("graph="):])
            gpath = os.path.join(base, gdir)
            for sdir in os.listdir(gpath):
                if sdir.startswith("salt="):
                    out[(graph, int(sdir[len("salt="):]))] = os.path.join(
                        gpath, sdir
                    )
        return out

    def _commit(
        self,
        op: str,
        added: DataFrame | None = None,
        removed: DataFrame | None = None,
    ) -> None:
        """One delta commit (see the module docstring): link the parent
        partitions that lose no row, rewrite those that do, append
        ``added``, fold any partition past ``FOLD_FILES``, then swap the
        pointer."""
        parent = self.current_snapshot()
        name = self._next_snapshot_name()
        path = self._snapshot_path(name)
        shutil.rmtree(path, ignore_errors=True)  # a crashed writer's orphan
        os.makedirs(path)
        base = self._snapshot_path(parent) if parent else None
        parts = self._list_partitions(base) if base else {}
        lost: set[tuple[str, int]] = set()
        if removed is not None and parts:
            salted = removed.select("graph", self._salt_col().alias("salt"))
            lost = parts.keys() & set(map(tuple, salted.distinct().collect()))
        for key, src in parts.items():
            if key not in lost:
                dst = os.path.join(path, os.path.relpath(src, base))
                os.makedirs(dst)
                for fname in os.listdir(src):
                    _link_or_copy(os.path.join(src, fname), os.path.join(dst, fname))
        frames = []
        if lost:
            in_lost = reduce(
                lambda a, b: a | b,
                [(F.col("graph") == g) & (F.col("salt") == s) for g, s in lost],
            )
            kept = self._scan(base).where(in_lost)
            frames.append(kept.join(removed, QUAD_COLS, "left_anti"))
        if added is not None:
            frames.append(added.withColumn("salt", self._salt_col()))
        if frames:
            self._write(reduce(DataFrame.unionByName, frames), path)
        rewritten = lost | self._fold(path)
        rows = sum(pq.read_metadata(f).num_rows for f in _data_files(path))
        _atomic_write(
            f"{path}.json",
            json.dumps(
                {
                    "snapshot": name,
                    "parent": parent,
                    "op": op,
                    "rows": rows,
                    "scoped_partitions": sorted([g, s] for g, s in rewritten),
                    "committed_at": time.time(),
                }
            ),
        )
        _atomic_write(os.path.join(self.root, CURRENT_FILE), name)

    def _write(self, df: DataFrame, path: str) -> None:
        """Append quad rows (with ``salt``) under ``path`` as one file per
        (graph, salt) partition: the salted repartition lands each group
        whole in one task, co-locating a subject's triples for downstream
        per-subject folds while a hot subject cannot skew one file."""
        n = self.write_partitions or max(2, self.spark.sparkContext.defaultParallelism)
        (
            df.repartition(n, F.col("graph"), F.col("salt"))
            .write.partitionBy("graph", "salt")
            .mode("append")
            .parquet(path)
        )

    def _fold(self, path: str) -> set[tuple[str, int]]:
        """Fold every partition under ``path`` holding more than
        ``FOLD_FILES`` data files into one file; returns the folded keys."""
        over = {
            key: d
            for key, d in self._list_partitions(path).items()
            if len(_data_files(d)) > FOLD_FILES
        }
        if over:
            tmp = os.path.join(path, "_fold")  # hidden from snapshot scans
            scan = self.spark.read.schema(FILE_SCHEMA).option("basePath", path)
            self._write(scan.parquet(*over.values()), tmp)
            for d in over.values():
                shutil.rmtree(d)
                os.rename(os.path.join(tmp, os.path.relpath(d, path)), d)
            shutil.rmtree(tmp)
        return set(over)

    # -- maintenance ------------------------------------------------------

    def expire_snapshots(self, keep: int = 2) -> list[str]:
        """Delete all but the most recent ``keep`` snapshots; returns the
        expired names. Never touches the live snapshot. Safe with delta
        commits: deleting an old snapshot only unlinks its directory
        entries — files hard-linked into newer snapshots persist."""
        cur = self.current_snapshot()
        snap_root = os.path.join(self.root, SNAPSHOT_DIR)
        names = self.snapshots()
        expired = [n for n in names[:-keep] if n != cur] if keep else []
        for n in expired:
            shutil.rmtree(os.path.join(snap_root, n), ignore_errors=True)
            manifest = os.path.join(snap_root, f"{n}.json")
            if os.path.exists(manifest):
                os.remove(manifest)
        return expired

    def history(self) -> list[dict]:
        """Commit manifests, oldest first. A manifest newer than
        ``CURRENT`` belongs to a crashed writer's orphan and is skipped."""
        cur = self.current_snapshot() or ""
        snap_root = os.path.join(self.root, SNAPSHOT_DIR)
        out = []
        for n in sorted(os.listdir(snap_root)):
            if n.endswith(".json") and n[: -len(".json")] <= cur:
                with open(os.path.join(snap_root, n)) as f:
                    out.append(json.load(f))
        return out

    def snapshots(self) -> list[str]:
        """Retained snapshot names, oldest first (directories still on
        disk; :meth:`expire_snapshots` garbage-collects a snapshot's
        data and manifest together). An orphan newer than ``CURRENT``
        is not a snapshot."""
        cur = self.current_snapshot() or ""
        snap_root = os.path.join(self.root, SNAPSHOT_DIR)
        return sorted(
            n
            for n in os.listdir(snap_root)
            if n.startswith("v")
            and n <= cur
            and os.path.isdir(os.path.join(snap_root, n))
        )

    def df_at(self, snapshot: str) -> DataFrame:
        """Time-travel read: the quad table as of a retained snapshot —
        the Iceberg ``VERSION AS OF`` analogue the snapshot log exists
        for. Returns the same pushdown-friendly scan as the live
        :meth:`df`; raises ``ValueError`` for an unknown or expired
        snapshot (run within the expiry window, like any time travel)."""
        path = self._snapshot_path(snapshot)
        if snapshot not in self.snapshots():
            raise ValueError(
                f"unknown or expired snapshot {snapshot!r}; retained: "
                f"{self.snapshots()}"
            )
        return self._read_snapshot(path)

    def diff(self, old: str, new: str | None = None) -> DataFrame:
        """Row-level change set between two snapshots: the quad rows
        plus a ``change`` column (``added`` / ``removed``). ``new``
        defaults to the live snapshot. Two pushdown scans + one
        left-anti each way — the CDC read pattern an incremental
        downstream (index refresh, closure maintenance) consumes."""
        cols = ["subj", "pred", "obj", "graph"]
        old_df = self.df_at(old)
        new_df = self.df_at(new) if new else self._df()
        added = new_df.join(old_df, cols, "left_anti").withColumn(
            "change", F.lit("added")
        )
        removed = old_df.join(new_df, cols, "left_anti").withColumn(
            "change", F.lit("removed")
        )
        return added.unionByName(removed)
