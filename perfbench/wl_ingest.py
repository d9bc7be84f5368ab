"""``ingest``: micro-batches committed to a ``ParquetQuadStore``, each
followed by a lookup.

A base store is loaded during set-up. Every round commits three
micro-batches of quads for a few repository rows, computed by the
independent emission rules (``kg_oracle``; the ``construct`` workload
checks that ``construct_kg`` emits exactly these): new files through
``merge_df``, changed files through ``upsert_subjects`` (UpsertResource
semantics) and a replay of the round's first batch through ``merge_df``.
A SPARQL lookup of one committed file follows every commit. After each
commit DuckDB computes the expected next state from the previous snapshot
and the batch, and compares it with the new snapshot; at the end every
file's triples are compared with the independent computation for its
final content.
"""

from __future__ import annotations

import json
import os
import random
from urllib.parse import unquote

import pyarrow as pa
from ontograph_spark.store import ParquetQuadStore

import harness as H
import kg_oracle as O
from wl_construct import QUAD_COLS, quads_frame, repo_rows

#: base store: the 344k-quad store of the measured commit cost (see the README)
BASE_ROWS = 10_000
BATCH_ROWS = 20
ENTITY_CLASSES = [O.c("File"), O.c("Function"), O.c("Type"), O.c("Class")]


def changed(row: tuple, k: int) -> tuple:
    """A new version of a file: another commit and one more declaration."""
    repo, path, commit, lang, content = row
    extra = (
        f"def patched_{k}(x):\n    return x\n"
        if lang == "python"
        else f"func patched_{k}() int {{ return {k} }}\n"
    )
    return repo, path, f"{commit[:6]}{k:06d}", lang, content + extra


def upsert_subjects(quads: set[tuple]) -> set[str]:
    return {s for s, p, o, _g in quads if p == O.RDF_TYPE and o in ENTITY_CLASSES}


class Ingest:
    name = "ingest"

    def __init__(self, spark, work: H.WorkDir, seed: int, tracer: H.Tracer) -> None:
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.rng = random.Random(seed)
        self.commits: list[dict] = []

    # -- store helpers ------------------------------------------------------

    def snapshot_dir(self) -> str:
        return self.store._snapshot_path(self.store.current_snapshot())

    def manifest(self) -> dict:
        with open(f"{self.snapshot_dir()}.json") as f:
            return json.load(f)

    def snapshot_sql(self, path: str) -> str:
        graphs = {unquote(d[len("graph="):]) for d in os.listdir(path) if d.startswith("graph=")}
        if graphs - {O.NS}:
            raise H.CheckFailed(f"ingest: unexpected graphs {sorted(graphs)}")
        return f"SELECT subj, pred, obj FROM read_parquet('{path}/*/*/*.parquet')"

    # -- workload -----------------------------------------------------------

    def setup(self) -> None:
        base = repo_rows(self.seed, BASE_ROWS)
        self.files = {r[1]: r for r in base}
        self.next_row = BASE_ROWS
        self.n_changes = 0
        self.store = ParquetQuadStore(self.spark, O.NS, self.work.sub("store"))
        self.store.merge_df(quads_frame(self.spark, O.construct(base)))
        self.duck = H.duck(self.work)

    def ops(self) -> list:
        new_rows = repo_rows(self.seed, BATCH_ROWS, self.next_row)
        self.next_row += BATCH_ROWS
        chosen = self.rng.sample(sorted(self.files), BATCH_ROWS)
        self.n_changes += 1
        changed_rows = [changed(self.files[p], self.n_changes) for p in chosen]
        return [
            lambda: self.micro_batch("merge", new_rows),
            lambda: self.micro_batch("upsert", changed_rows),
            lambda: self.micro_batch("replay", new_rows),
        ]

    def micro_batch(self, kind: str, rows: list[tuple]) -> float:
        prev = self.snapshot_dir()
        prev_rows = self.manifest()["rows"]
        batch = O.construct(rows)
        subjects = upsert_subjects(batch) if kind == "upsert" else set()
        if kind == "upsert":
            batch = {q for q in batch if q[0] in subjects}
        quads = quads_frame(self.spark, batch)
        probe = rows[0]
        with self.tr.span("ingest.op", kind=kind) as op:
            with self.tr.span("store.commit"):
                if kind == "upsert":
                    subj_df = self.spark.createDataFrame([(s,) for s in sorted(subjects)], "subj string")
                    self.store.upsert_subjects(subj_df, quads)
                else:
                    self.store.merge_df(quads)
            with self.tr.span("store.read"):
                with self.tr.span("query.lookup.build"):
                    df = self.store.sparql_select(
                        f"PREFIX c: <{O.NS}#>\n"
                        f'SELECT ?p ?o WHERE {{ ?f c:path "{probe[1]}"^^xsd:string . ?f ?p ?o }}'
                    )
                with self.tr.span("query.lookup.plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.tr.span("query.lookup.exec") as ex:
                    got = df.collect()
                    ex["rows"] = len(got)
        for r in rows:
            self.files[r[1]] = r
        self.check_commit(kind, prev, batch, subjects, prev_rows)
        expected = {(p, o) for _s, p, o in O.canonical(O.file_quads(*probe))}
        H.same_rows(f"ingest lookup {probe[1]}", [tuple(r) for r in got], expected)
        return op["wall_s"]

    def expected_sql(self, kind: str, prev: str, batch: set[tuple], subjects: set[str]) -> str:
        """The next state under merge or upsert rules, as SQL over the
        previous snapshot and the batch."""
        self.duck.register("subjects", pa.table({"s": pa.array(sorted(subjects), pa.string())}))
        self.duck.register(
            "batch", pa.table({c: [q[i] for q in batch] for i, c in enumerate(QUAD_COLS[:3])})
        )
        before = self.snapshot_sql(prev)
        if kind == "upsert":
            return (
                f"SELECT * FROM ({before}) WHERE subj NOT IN (SELECT s FROM subjects) "
                "AND obj NOT IN (SELECT s FROM subjects) UNION ALL SELECT * FROM batch"
            )
        if kind == "merge":
            return f"SELECT * FROM ({before}) UNION SELECT * FROM batch"
        return before

    def check_commit(
        self, kind: str, prev: str, batch: set[tuple], subjects: set[str], prev_rows: int
    ) -> None:
        cur = self.snapshot_dir()
        actual = self.snapshot_sql(cur)
        expected = self.expected_sql(kind, prev, batch, subjects)
        n = H.sql_diff(self.duck, actual, expected)
        if n:
            raise H.CheckFailed(f"ingest {kind}: {n} rows differ from the expected next state")
        man = self.manifest()
        if kind == "replay" and man["rows"] != prev_rows:
            raise H.CheckFailed(f"ingest replay changed the size {prev_rows} -> {man['rows']}")
        self.last_check = (actual, expected)
        if self.tr.timed:
            live = H.dir_bytes(cur)
            fresh_quads = self.duck.sql(
                f"SELECT count(*) FROM (({actual}) EXCEPT ALL ({self.snapshot_sql(prev)}))"
            ).fetchone()[0]
            self.commits.append(
                {
                    "kind": kind,
                    "rows": man["rows"],
                    "bytes": live,
                    "bytes_rewritten": H.dir_bytes(cur, fresh_only=True),
                    "fresh_quads": fresh_quads,
                    "scoped": man["scoped_partitions"] is not None,
                    "files": H.data_files(cur),
                }
            )

    def final_check(self) -> None:
        """Each file subject's triples equal the independent computation
        for that file's final content."""
        actual = self.duck.sql(
            f"SELECT subj, pred, obj FROM ({self.snapshot_sql(self.snapshot_dir())}) "
            f"WHERE subj LIKE '<{O.NS}#file-%'"
        ).fetchall()
        expected = set()
        for r in self.files.values():
            expected |= O.canonical(O.file_quads(*r))
        H.same_rows("ingest final file triples", actual, expected)

    def prove_checks(self) -> None:
        self.final_check()
        actual, expected = self.last_check
        for label, corrupted in (
            ("dropped quad", H.sql_drop_one(actual)),
            ("altered term", H.sql_alter_one(actual, QUAD_COLS[:3])),
        ):
            if H.sql_diff(self.duck, corrupted, expected) == 0:
                raise H.CheckFailed(f"ingest commit check accepted a {label}")

    def layer_metrics(self) -> dict:
        cs = self.commits
        amp = [
            c["bytes_rewritten"] / (c["fresh_quads"] * c["bytes"] / c["rows"])
            for c in cs
            if c["fresh_quads"]
        ]
        last = cs[-1] if cs else {"bytes": 0, "rows": 1}
        return {
            "ingest.store_bytes_per_quad": last["bytes"] / last["rows"],
            "store.bytes_rewritten": H.median(c["bytes_rewritten"] for c in cs),
            "store.write_amp": H.median(amp),
            "store.scoped_share": sum(c["scoped"] for c in cs) / max(len(cs), 1),
            "store.files_per_snapshot": H.median(c["files"] for c in cs),
        }
