"""Delta commits of ParquetQuadStore.

A mutation rewrites only the (graph, salt) partitions that lose a row and
appends its fresh rows as new files: the new snapshot HARD-LINKS every
other parent file — byte-identical by inode, no rewrite, no storage
growth. This is the snapshot-protocol analogue of Iceberg's copy-on-write
row-level operations (the production backend this store stands in for)."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from ontograph_spark.ontology.resources import new_triple
from ontograph_spark.store import ParquetQuadStore
from ontograph_spark.store import parquet_store
from ontograph_spark.terms import mk_resource

URI = "urn:scoped"


def _t(i: int, uri: str = URI):
    return new_triple(
        mk_resource(f"{uri}#s{i}"),
        mk_resource(f"{uri}#p"),
        mk_resource(f"{uri}#o{i}"),
    )


def _files_by_partition(root: str, snapshot: str) -> dict[str, dict[str, int]]:
    """partition dir (relative) → {filename: inode}."""
    base = os.path.join(root, "snapshots", snapshot)
    out: dict[str, dict[str, int]] = {}
    for gdir in os.listdir(base):
        if not gdir.startswith("graph="):
            continue
        for sdir in os.listdir(os.path.join(base, gdir)):
            if not sdir.startswith("salt="):
                continue
            p = os.path.join(base, gdir, sdir)
            out[f"{gdir}/{sdir}"] = {
                f: os.stat(os.path.join(p, f)).st_ino for f in os.listdir(p)
            }
    return out


@pytest.fixture()
def store(spark, tmp_path):
    s = ParquetQuadStore(
        spark, URI, str(tmp_path / "quads"), write_partitions=2, salt_buckets=4
    )
    s.add_triples([_t(i) for i in range(40)])
    return s


def test_single_add_links_untouched_partitions(store):
    v1 = store.current_snapshot()
    before = _files_by_partition(store.root, v1)
    assert len(before) > 1  # several salt buckets populated

    store.add_triple(_t(99))
    v2 = store.current_snapshot()
    assert v2 != v1
    after = _files_by_partition(store.root, v2)

    changed = [p for p in after if after[p] != before.get(p)]
    unchanged = [p for p in after if after[p] == before.get(p)]
    # exactly one salt bucket gains a file; every parent file, there and
    # everywhere else, is the SAME inode (hard link), not a copy
    assert len(changed) == 1
    assert unchanged
    for p, files in before.items():
        assert files.items() <= after[p].items()
    assert store.size() == 41
    # an add loses no row, so the manifest lists no rewritten partition
    manifest = store.history()[-1]
    assert manifest["op"] == "add"
    assert manifest["scoped_partitions"] == []


def test_single_delete_is_scoped(store):
    lost = _partition_of(store, _t(7).subject)
    v1 = store.current_snapshot()
    before = _files_by_partition(store.root, v1)
    store.delete_triple(_t(7))
    after = _files_by_partition(store.root, store.current_snapshot())
    # only the partition that lost the row is rewritten
    assert [p for p in before if after.get(p) != before[p]] == [lost]
    assert len(store.history()[-1]["scoped_partitions"]) == 1
    assert store.size() == 39
    assert store.get_all_matches(f"<{URI}#s7>") == []


def test_noop_delete_links_everything(store):
    v1 = store.current_snapshot()
    before = _files_by_partition(store.root, v1)
    store.delete_all_matches(f"<{URI}#nope>")
    after = _files_by_partition(store.root, store.current_snapshot())
    assert after == before  # same inodes everywhere
    assert store.size() == 40


def test_drop_graph_links_other_graphs(spark, store):
    other = ParquetQuadStore(
        spark, "urn:other", store.root, write_partitions=2, salt_buckets=4
    )
    other.add_triples([_t(i, "urn:other") for i in range(10)])
    before = _files_by_partition(store.root, other.current_snapshot())
    mine_before = {p: v for p, v in before.items() if "scoped" in p}
    other.drop()
    after = _files_by_partition(store.root, store.current_snapshot())
    # the dropped graph's partitions are gone; mine are linked unchanged
    assert not any("urn%3Aother" in p for p in after)
    for p, v in mine_before.items():
        assert after[p] == v
    assert store.size() == 40


def test_expire_is_link_safe(store):
    store.add_triple(_t(99))
    store.add_triple(_t(100))
    expired = store.expire_snapshots(keep=1)
    assert expired
    # the live snapshot still reads fully although parents are deleted
    assert store.size() == 42


def _inodes(root: str, snapshot: str) -> dict[int, str]:
    """inode → path of every parquet data file of one snapshot."""
    base = os.path.join(root, "snapshots", snapshot)
    return {
        os.stat(os.path.join(dp, f)).st_ino: os.path.join(dp, f)
        for dp, _dn, fns in os.walk(base)
        for f in fns
        if f.endswith(".parquet")
    }


def _fresh_file_rows(root: str, parent: str, child: str) -> set[tuple]:
    """(subj, pred, obj) rows of the child's data files that are not
    linked from the parent."""
    old = _inodes(root, parent)
    rows: set[tuple] = set()
    for ino, path in _inodes(root, child).items():
        if ino not in old:
            t = pq.read_table(path, columns=["subj", "pred", "obj"])
            rows |= set(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    return rows


def _quads(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, URI) for s, p, o in rows],
        "subj string, pred string, obj string, graph string",
    )


def _partition_of(store, subj: str) -> str:
    """The partition dir (relative) holding ``subj``'s rows."""
    base = store._snapshot_path(store.current_snapshot())
    for ino_path in _inodes(store.root, store.current_snapshot()).values():
        if subj in pq.read_table(ino_path, columns=["subj"]).column(0).to_pylist():
            return os.path.relpath(os.path.dirname(ino_path), base)
    raise AssertionError(f"{subj} not stored")


def test_merge_df_wide_batch_links_every_parent_file(spark, store):
    """A merge touching every salt bucket still links every parent file
    and writes only files holding its fresh rows: stored quads and the
    batch's own repeats are not written again."""
    v1 = store.current_snapshot()
    rows = [(f"<{URI}#m{i}>", f"<{URI}#p>", f"<{URI}#o{i}>") for i in range(30)]
    stored = [(t.subject, t.predicate, t.object) for t in map(_t, range(0, 40, 4))]
    store.merge_df(_quads(spark, rows + stored + rows[:5]))
    v2 = store.current_snapshot()
    assert store.size() == 70
    assert _inodes(store.root, v1).keys() <= _inodes(store.root, v2).keys()
    assert _fresh_file_rows(store.root, v1, v2) == set(rows)
    assert store.history()[-1]["scoped_partitions"] == []


def test_replayed_merge_writes_no_file(spark, store):
    rows = [(f"<{URI}#r{i}>", f"<{URI}#p>", f"<{URI}#o{i}>") for i in range(12)]
    store.merge_df(_quads(spark, rows))
    v2 = store.current_snapshot()
    store.merge_df(_quads(spark, rows))
    v3 = store.current_snapshot()
    assert v3 != v2
    assert _inodes(store.root, v3).keys() == _inodes(store.root, v2).keys()
    assert store.history()[-1]["rows"] == 52 == store.size()


def test_upsert_rewrites_only_partitions_losing_rows(spark, store):
    """Upserting one subject rewrites its partition and the partition of
    every row that refers to it as object — here another subject's — and
    links every other partition's files."""
    target = f"<{URI}#s7>"
    # a referential row from a subject in a different salt bucket
    ref_subj = next(
        t.subject
        for t in map(_t, range(40))
        if _partition_of(store, t.subject) != _partition_of(store, target)
    )
    store.add_triple(new_triple(ref_subj, f"<{URI}#ref>", target))
    lost = {_partition_of(store, target), _partition_of(store, ref_subj)}
    v1 = store.current_snapshot()
    before = _files_by_partition(store.root, v1)

    new = (target, f"<{URI}#p>", f"<{URI}#new>")
    store.upsert_subjects(
        spark.createDataFrame([(target,)], "subj string"), _quads(spark, [new])
    )
    after = _files_by_partition(store.root, store.current_snapshot())
    rewritten = {p for p in before if not before[p].items() <= after[p].items()}
    assert rewritten == lost
    assert all(after[p] == before[p] for p in before if p not in lost)
    manifest = store.history()[-1]
    assert len(manifest["scoped_partitions"]) == 2
    assert store.get_all_matches(target) == [new_triple(*new)]
    assert store.get_all_matches("", "", target) == []
    assert store.size() == 40


def test_repeated_appends_fold_at_the_bound(spark, tmp_path):
    """Single-row appends to one partition never leave more than
    FOLD_FILES files in it, and the fold keeps every row."""
    s = ParquetQuadStore(
        spark, URI, str(tmp_path / "quads"), write_partitions=1, salt_buckets=1
    )
    counts = []
    for i in range(parquet_store.FOLD_FILES + 2):
        s.add_triple(_t(i))
        counts.append(len(_inodes(s.root, s.current_snapshot())))
    assert max(counts) <= parquet_store.FOLD_FILES
    assert counts[: parquet_store.FOLD_FILES] == list(
        range(1, parquet_store.FOLD_FILES + 1)
    )
    assert counts[parquet_store.FOLD_FILES] == 1  # folded
    assert s.history()[parquet_store.FOLD_FILES]["scoped_partitions"] == [[URI, 0]]
    assert s.size() == parquet_store.FOLD_FILES + 2
    assert {t.subject for t in s.get_all_triples()} == {
        _t(i).subject for i in range(parquet_store.FOLD_FILES + 2)
    }


def test_manifest_rows_equal_count(spark, tmp_path):
    """The manifest's footer-summed ``rows`` equals a scan's count after
    every kind of commit, down to an all-deleted snapshot."""
    s = ParquetQuadStore(
        spark, URI, str(tmp_path / "quads"), write_partitions=2, salt_buckets=4
    )
    other = ParquetQuadStore(
        spark, "urn:other", s.root, write_partitions=2, salt_buckets=4
    )

    def check():
        assert s.history()[-1]["rows"] == s._df().count()

    s.add_triples([_t(i) for i in range(10)])  # first commit
    check()
    s.add_triple(_t(10))
    check()
    s.merge_df(_quads(spark, [(f"<{URI}#m>", f"<{URI}#p>", f"<{URI}#s1>")]))
    check()
    s.upsert_subjects(
        spark.createDataFrame([(f"<{URI}#s1>",)], "subj string"),
        _quads(spark, [(f"<{URI}#s1>", f"<{URI}#p>", f"<{URI}#x>")]),
    )
    check()
    s.delete_triple(_t(2))
    check()
    other.add_triples([_t(i, "urn:other") for i in range(3)])
    check()
    other.drop()
    check()
    s.delete_all_matches()
    check()
    assert s.history()[-1]["rows"] == 0 == s.size()
    assert s.get_all_triples() == []


def test_crashed_commit_leaves_store_usable(store, monkeypatch):
    """A writer that dies after writing its data but before swapping
    CURRENT leaves an orphan at the next snapshot name; the next commit
    must not read or link into it."""
    v1 = store.current_snapshot()
    real = parquet_store._atomic_write

    def crash(path, content):
        if path.endswith(parquet_store.CURRENT_FILE):
            raise OSError("crash before the pointer swap")
        real(path, content)

    monkeypatch.setattr(parquet_store, "_atomic_write", crash)
    with pytest.raises(OSError, match="crash"):
        store.add_triple(_t(500))
    monkeypatch.setattr(parquet_store, "_atomic_write", real)
    assert store.current_snapshot() == v1
    assert store.size() == 40
    # the orphan is neither history nor a snapshot to travel to
    assert store.history()[-1]["snapshot"] == v1
    assert store.snapshots() == [v1]

    store.add_triple(_t(501))
    assert store.size() == 41
    assert store.get_all_matches(_t(500).subject) == []
    assert store.get_all_matches(_t(501).subject) == [_t(501)]


def test_graph_scan_prunes_partitions(spark, store):
    """graph is a partition column: a graph-scoped scan reads only that
    graph's directories (partition pruning in the plan)."""
    plan = store.df()._jdf.queryExecution().executedPlan().toString()
    assert "graph" in plan  # partition filter present
    rows = store.df().count()
    assert rows == 40


def test_time_travel_and_diff(spark, tmp_path):
    """df_at reads a retained snapshot as-of commit time; diff yields
    the row-level change set (the CDC pattern); expiry invalidates
    time travel but keeps history manifests."""
    from ontograph_spark.ontology.resources import new_triple
    from ontograph_spark.store import ParquetQuadStore
    from ontograph_spark.terms import mk_literal, mk_resource

    g = "https://g.example/tt"
    s = ParquetQuadStore(spark, g, str(tmp_path / "q"), write_partitions=2)

    def t(n):
        return new_triple(
            mk_resource(f"{g}#e{n}"), mk_resource(f"{g}#p"), mk_literal(str(n), "", "")
        )

    s.add_triples([t(1), t(2)])
    v1 = s.current_snapshot()
    s.add_triple(t(3))
    s.delete_triple(t(1))
    v3 = s.current_snapshot()
    assert v1 != v3 and v1 in s.snapshots()
    # as-of read sees the old state
    old_rows = {r.subj for r in s.df_at(v1).collect()}
    assert old_rows == {f"<{g}#e1>", f"<{g}#e2>"}
    live_rows = {r.subj for r in s.df().collect()}
    assert live_rows == {f"<{g}#e2>", f"<{g}#e3>"}
    # change set between v1 and live
    changes = {(r.subj, r.change) for r in s.diff(v1).collect()}
    assert changes == {
        (f"<{g}#e3>", "added"),
        (f"<{g}#e1>", "removed"),
    }
    # expiry: the old snapshot becomes unreadable (and its manifest is
    # garbage-collected with it); the live snapshot still reads
    s.expire_snapshots(keep=1)
    with pytest.raises(ValueError, match="expired"):
        s.df_at(v1)
    assert {r.subj for r in s.df().collect()} == live_rows
