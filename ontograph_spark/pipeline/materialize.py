"""Salted materialization with per-partition lineage and resumable runs.

The write side of the north rule:

* **Skew handling is explicit.** The quad stream is repartitioned on a
  salted key before writing: non-hot rows co-locate by subject (good for
  later per-subject folds); rows whose predicate is the hot ``rdf:type``
  (every entity emits ≥1, see vocab.py) are salted by (subj, obj) so no
  single reducer receives the whole ``rdf:type`` fan-in. AQE skew-join
  handling stays enabled on top, but the salt makes the write plan safe by
  construction rather than by runtime rescue.

* **Lineage + metrics per partition.** The input is split into ``buckets``
  deterministic groups by ``xxhash64(repo, path)``. Each bucket commits
  independently: quad files under ``bucket=<b>/`` plus a manifest JSON
  recording input rows, the xor-fingerprint of the per-row
  ``sha256(content)`` invariant, triple count and wall time.

* **Resumability.** A restarted run skips every bucket whose manifest
  exists (write-temp + atomic rename ⇒ a crashed bucket leaves no
  manifest and is re-run; re-running is safe because bucket contents are a
  pure function of the input partition — deterministic minting, no
  cross-bucket state except the static dictionary).

At cluster scale each bucket is one MERGE commit into Iceberg; here each
bucket is one parquet directory, and the union of bucket dirs is the quad
table.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontograph_spark import vocab
from ontograph_spark.pipeline.construct import DEFAULT_GRAPH, constructed
from ontograph_spark.store.base import QUAD_SCHEMA
from ontograph_spark.terms import mk_resource

_RDF_TYPE_TERM = mk_resource(vocab.RDF_TYPE)


def salted_repartition(
    quads: DataFrame,
    num_partitions: int,
    hot_salt: int | None = None,
    subj_salt: int | None = None,
) -> DataFrame:
    """Repartition by a skew-aware key: hot ``rdf:type`` rows spread by
    (subj, obj); everything else co-locates by salted subject.

    By default the salt is the UNBUCKETED subject hash: every distinct
    subject is its own key, so balance is governed by hash uniformity
    over millions of subjects, and per-subject co-location still holds
    exactly (same subject → same key → same partition). Bucketing the
    salt (``subj_salt=16``, the old default) made each bucket an
    indivisible unit of ~6% of all rows — hashing 16 such units into 8
    partitions deals some partitions 3 and others 1, measured as a 3.4×
    finish-time spread across the final write tasks (19–65 s),
    serializing the job end on the fattest partition. Pass explicit
    bucket counts only when a bounded key space is needed (e.g. stable
    bucket ids for manifests)."""
    if hot_salt is None:
        hot = F.xxhash64(F.col("subj"), F.col("obj"))
    else:
        hot = F.pmod(F.xxhash64(F.col("subj"), F.col("obj")), F.lit(hot_salt)) + F.lit(
            1_000_000
        )
    if subj_salt is None:
        subj = F.xxhash64(F.col("subj"))
    else:
        subj = F.pmod(F.xxhash64(F.col("subj")), F.lit(subj_salt))
    salt = F.when(F.col("pred") == _RDF_TYPE_TERM, hot).otherwise(subj)
    return quads.repartition(num_partitions, F.col("graph"), salt)


def write_quads(
    quads: DataFrame, path: str, num_partitions: int | None = None
) -> None:
    """Salted, subject-sorted parquet write of a quad DataFrame."""
    spark = quads.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    (
        salted_repartition(quads, n)
        .sortWithinPartitions("subj", "pred")
        .write.mode("overwrite")
        .parquet(path)
    )


def _bucket_col(buckets: int):
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(buckets))


def construct_resumable(
    spark: SparkSession,
    files: DataFrame,
    out_root: str,
    graph_uri: str = DEFAULT_GRAPH,
    buckets: int = 8,
    write_partitions: int | None = None,
) -> list[dict]:
    """Run KG construction bucket-by-bucket with checkpointed lineage;
    returns the manifests of this run (skipped buckets included, marked).

    Per-bucket canonicalization uses the full static alias dictionary, so
    a module's representative is identical in every bucket — bucket
    independence holds and the union of bucket outputs equals a
    single-shot run up to set equality.
    """
    os.makedirs(os.path.join(out_root, "_manifests"), exist_ok=True)
    manifests: list[dict] = []
    for b in range(buckets):
        mpath = os.path.join(out_root, "_manifests", f"bucket-{b:05d}.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                m = json.load(f)
            m["skipped"] = True
            manifests.append(m)
            continue
        t0 = time.time()
        part = files.where(_bucket_col(buckets) == b)
        stats = part.agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr("bit_xor(xxhash64(sha2(content, 256)))").alias("sha_xor"),
        ).collect()[0]
        data_path = os.path.join(out_root, f"bucket={b}")
        with constructed(spark, part, graph_uri) as quads:
            write_quads(quads, data_path, write_partitions)
        triple_count = spark.read.schema(QUAD_SCHEMA).parquet(data_path).count()
        manifest = {
            "bucket": b,
            "input_rows": int(stats["rows"] or 0),
            "input_sha256_xor": int(stats["sha_xor"]) if stats["sha_xor"] is not None else 0,
            "triples": int(triple_count),
            "wall_sec": round(time.time() - t0, 3),
            "graph": graph_uri,
            "skipped": False,
        }
        tmp = f"{mpath}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        manifests.append(manifest)
    return manifests


def read_quads(spark: SparkSession, out_root: str) -> DataFrame:
    """The union of committed bucket outputs as one quad DataFrame.

    Buckets are independent MERGE-shaped deltas: shared entities (modules,
    repos, the schema) re-appear in several buckets. With Iceberg the
    per-bucket MERGE dedups at commit; in the parquet stand-in the set
    view dedups here (or run :func:`compact` once to materialize it)."""
    return (
        spark.read.schema(QUAD_SCHEMA)
        .option("basePath", out_root)
        .parquet(os.path.join(out_root, "bucket=*"))
        .select(*QUAD_SCHEMA.fieldNames())
        .dropDuplicates(QUAD_SCHEMA.fieldNames())
    )


def compact(spark: SparkSession, out_root: str, dest: str) -> int:
    """Materialize the deduplicated set view once; returns the row count."""
    q = read_quads(spark, out_root)
    write_quads(q, dest)
    return spark.read.schema(QUAD_SCHEMA).parquet(dest).count()


def save_bucketed_table(
    quads: DataFrame, table: str, buckets: int = 64
) -> None:
    """Persist the quad table **bucketed by subject** — the layout that
    makes the read side's per-subject work shuffle-free.

    This is the parquet/catalog stand-in for Iceberg's
    ``bucket(N, subj)`` partition transform: every row with the same
    subject lands in the same bucket file, and Spark records the
    bucketing spec in the catalog, so

    * star-shaped BGP joins (several patterns sharing the SPARQL
      subject variable — the dominant ontology query shape) become
      bucket-local sort-merge joins with **no Exchange on either
      side** (pinned in tests/test_plans.py);
    * per-subject folds (GetIndividual's precedence fold, upsert
      anti-joins keyed by subject, DESCRIBE hydration) reuse the
      stored partitioning instead of re-shuffling;
    * predicate/graph constants still push down to the parquet scan —
      bucketing composes with, not replaces, pushdown.

    Pick ``buckets`` so one bucket of the biggest graph fits an
    executor's shuffle-free sort (~the same arithmetic as
    ``spark.sql.shuffle.partitions`` at the target scale; 64 here is
    test-sized). Write cost is one salted repartition — the same
    shuffle the plain write already pays."""
    (
        quads.repartition(buckets, F.col("subj"))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "subj")
        .sortBy("subj", "pred")
        .saveAsTable(table)
    )


def bucketed_quads(spark: SparkSession, table: str) -> DataFrame:
    """The bucketed quad table as a DataFrame (bucketing metadata rides
    along from the catalog — feed this straight into sparql_select /
    store operators to get bucket-local joins)."""
    return spark.table(table)
