"""``construct``: repeated KG construction from a repository table.

Each timed operation stands for one spark-submit job of the product:
``construct_kg`` -> ``salted_repartition`` -> parquet write, over a seeded
synthetic repository table written to parquet during set-up.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ontograph_spark.pipeline import construct as C
from ontograph_spark.pipeline.canon import canonical_mapping
from ontograph_spark.pipeline.extract import extract_mentions
from ontograph_spark.pipeline.link import link_imports, module_dictionary, same_as_pairs
from ontograph_spark.pipeline.materialize import salted_repartition
from ontograph_spark.pipeline.repo_source import render_row

import harness as H
import kg_oracle as O

QUAD_COLS = ["subj", "pred", "obj", "graph"]
#: repository table rows per construction and repositories they spread over;
#: past the per-call fixed cost (see the README's *Input sizes*)
ROWS = 40_000
REPOS = 50


def repo_rows(seed: int, n: int, start: int = 0) -> list[tuple]:
    """Rows ``start..start+n`` of the synthetic repository table for a seed
    (row ids are offset by the seed, so seeds give disjoint tables)."""
    base = seed * 10_000_000
    return [render_row(base + i, REPOS) for i in range(start, start + n)]


def write_repo_table(rows: list[tuple], path: str, files: int = 4) -> None:
    cols = list(zip(*rows))
    table = pa.table({k: list(v) for k, v in zip(["repo", "path", "commit", "lang", "content"], cols)})
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def quads_table(quads) -> pa.Table:
    cols = list(zip(*quads))
    return pa.table({c: pa.array(v, pa.string()) for c, v in zip(QUAD_COLS, cols)})


def quads_frame(spark, quads):
    """A Spark DataFrame over a collection of quad tuples (via Arrow)."""
    return spark.createDataFrame(quads_table(quads))


class ConstructChecks:
    """The checks on one construction output, a SQL relation of quads that
    DuckDB evaluates."""

    def __init__(self, con, expected: pa.Table, input_rows: int) -> None:
        self.con = con
        self.input_rows = input_rows
        self.checksum_pred = O.c("checksum")
        con.register("expected_quads", expected)
        self.expected_fp = self.fingerprint("SELECT * FROM expected_quads")
        con.unregister("expected_quads")

    def fingerprint(self, rel: str) -> tuple[int, int]:
        """Order-independent multiset fingerprint: (rows, sum of 64-bit row
        hashes)."""
        return self.con.sql(
            f"SELECT count(*), sum(hash({', '.join(QUAD_COLS)})::HUGEINT) FROM ({rel})"
        ).fetchone()

    def matches_oracle(self, rel: str) -> None:
        fp = self.fingerprint(rel)
        if fp != self.expected_fp:
            raise H.CheckFailed(
                f"construct: quad multiset differs from the independent computation "
                f"({fp[0]} vs {self.expected_fp[0]} quads)"
            )

    def checksum_per_row(self, rel: str) -> None:
        n = self.con.sql(
            f"SELECT count(*) FROM ({rel}) WHERE pred = '{self.checksum_pred}'"
        ).fetchone()[0]
        if n != self.input_rows:
            raise H.CheckFailed(f"construct: {n} c:checksum quads for {self.input_rows} input rows")

    def no_duplicates(self, rel: str) -> None:
        total, distinct = self.con.sql(
            f"SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT * FROM ({rel}))) FROM ({rel})"
        ).fetchone()
        if total != distinct:
            raise H.CheckFailed(f"construct: {total - distinct} duplicate quads")

    def all(self, rel: str) -> None:
        self.matches_oracle(rel)
        self.checksum_per_row(rel)
        self.no_duplicates(rel)

    def prove(self, rel: str) -> None:
        H.must_reject("construct oracle / dropped quad", self.matches_oracle, H.sql_drop_one(rel))
        H.must_reject(
            "construct oracle / altered term", self.matches_oracle, H.sql_alter_one(rel, QUAD_COLS)
        )
        checksums = f"SELECT * FROM ({rel}) WHERE pred = '{self.checksum_pred}'"
        others = f"SELECT * FROM ({rel}) WHERE pred <> '{self.checksum_pred}'"
        H.must_reject(
            "construct checksum count / dropped quad",
            self.checksum_per_row,
            f"{others} UNION ALL {H.sql_drop_one(checksums)}",
        )
        H.must_reject("construct no-duplicates / altered term", self.no_duplicates, H.sql_copy_one(rel))


class Construct:
    name = "construct"

    def __init__(self, spark, work: H.WorkDir, seed: int, tracer: H.Tracer) -> None:
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.n_out = 0
        self.last_out: str | None = None
        self.stats: list[dict] = []

    def setup(self) -> None:
        rows = repo_rows(self.seed, ROWS)
        src = self.work.sub("repo_table")
        write_repo_table(rows, src)
        self.files = self.spark.read.parquet(src)
        self.checks = ConstructChecks(H.duck(self.work), quads_table(O.construct(rows)), len(rows))

    def ops(self) -> list:
        return [self.construct]

    def construct(self) -> float:
        timed = self.tr.timed
        out = self.work.sub(f"kg-{self.n_out}")
        self.n_out += 1
        caches0 = H.persistent_rdds(self.spark)
        with self.tr.span("construct.op") as op:
            with self.tr.span("pipeline.construct.plan"):
                quads = C.construct_kg(self.spark, self.files)
            with self.tr.span("pipeline.materialize.write"):
                n = self.spark.sparkContext.defaultParallelism
                salted_repartition(quads, n).write.mode("overwrite").parquet(out)
        rel = f"SELECT {', '.join(QUAD_COLS)} FROM read_parquet('{out}/*.parquet')"
        self.checks.all(rel)
        if timed:
            self.stats.append(
                {
                    "wall_s": op["wall_s"],
                    "quads": self.checks.expected_fp[0],
                    "bytes": H.dir_bytes(out),
                    "caches_left": H.persistent_rdds(self.spark) - caches0,
                }
            )
        # keep the last output for the proof of the checks
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        H.release_caches(self.spark)
        return op["wall_s"]

    def stage_probes(self) -> None:
        """Traced run only, after the window: each pipeline stage's public
        function, its output written to a noop sink."""
        ingested = C.ingest(self.files, C.DEFAULT_GRAPH)
        mentions = extract_mentions(ingested)
        with self.tr.span("pipeline.extract"):
            mentions.write.format("noop").mode("overwrite").save()
        linked = link_imports(mentions, module_dictionary(self.spark))
        with self.tr.span("pipeline.link"):
            linked.write.format("noop").mode("overwrite").save()
        edges = same_as_pairs(linked).select(
            F.concat(F.lit("<"), F.col("name"), F.lit(">")).alias("src"),
            F.concat(F.lit("<"), F.col("canonical"), F.lit(">")).alias("dst"),
        )
        with self.tr.span("pipeline.canon"):
            canonical_mapping(edges).write.format("noop").mode("overwrite").save()

    def prove_checks(self) -> None:
        self.checks.prove(f"SELECT {', '.join(QUAD_COLS)} FROM read_parquet('{self.last_out}/*.parquet')")

    def layer_metrics(self) -> dict:
        st = self.stats
        return {
            "construct.triples_per_s": H.median(s["quads"] / s["wall_s"] for s in st),
            "construct.kg_bytes_per_triple": H.median(s["bytes"] / s["quads"] for s in st),
            "pipeline.caches_left": H.median(s["caches_left"] for s in st),
        }
