"""spark-submit entrypoint for the KG-construction pipeline.

The north-rule production shape: the package ships as a ``--py-files``
zip and this module is the driver program::

    python -m zipfile -c /tmp/ontograph_spark.zip ontograph_spark/
    spark-submit --master <cluster> --py-files /tmp/ontograph_spark.zip \
        submit_construct.py --input <parquet-or-iceberg-table> \
        --output /path/quads --buckets 64

The session comes from ``SparkSession.builder.getOrCreate()`` so every
cluster decision (master, executor sizing, dynamic allocation, Iceberg
catalog) stays in spark-submit/cluster config where it belongs; the only
SQL conf this job pins is the UTC session timezone its literal encoding
is defined over (ontograph_spark.terms).

Two write modes:

* ``--buckets 0`` — single-shot: one construct plan, one salted write.
* ``--buckets K`` (default 64) — resumable: K independently-committed
  buckets with per-bucket lineage manifests (input rows, sha256-xor
  ingest invariant, triple count, wall); re-running the same command
  after a crash skips completed buckets (materialize.construct_resumable).

Prints one JSON metrics line to stdout at the end — driver logs are the
natural metrics channel under spark-submit.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession

from ontograph_spark.pipeline.construct import DEFAULT_GRAPH, constructed
from ontograph_spark.pipeline.materialize import construct_resumable, write_quads

REQUIRED_COLS = {"repo", "path", "commit", "lang", "content"}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="ontograph-spark-construct",
        description="Construct an RDF quad table from a source-code "
        "repository table (repo, path, commit, lang, content).",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument(
        "--input",
        help="input table: a parquet path, or (with --format) any "
        "spark.read format/table identifier",
    )
    src.add_argument(
        "--synthesize",
        type=int,
        metavar="ROWS",
        help="smoke mode: synthesize a deterministic repo table of ROWS "
        "rows instead of reading an input",
    )
    p.add_argument(
        "--format",
        default="parquet",
        help="spark.read format for --input (default parquet; use e.g. "
        "'iceberg' with --input <catalog.db.table>)",
    )
    p.add_argument("--output", required=True, help="output quad-table root")
    p.add_argument("--graph-uri", default=DEFAULT_GRAPH)
    p.add_argument(
        "--buckets",
        type=int,
        default=64,
        help="resumable lineage buckets; 0 = single-shot write (default 64)",
    )
    p.add_argument(
        "--write-partitions",
        type=int,
        default=None,
        help="output partitions per write (default: cluster default "
        "parallelism)",
    )
    p.add_argument(
        "--no-canonicalize",
        action="store_true",
        help="skip sameAs canonicalization of module aliases",
    )
    p.add_argument(
        "--no-schema",
        action="store_true",
        help="skip the static ontology-schema quads",
    )
    p.add_argument(
        "--warmup-frac",
        type=float,
        default=0.0,
        metavar="FRAC",
        help="run construction on a FRAC sample first, untimed and "
        "discarded, so the reported wall measures warm executors (JIT, "
        "codegen, python workers) — the steady state of a long-lived "
        "cluster. 0 (default) = measure cold.",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName("ontograph-spark-construct").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.synthesize is not None:
        from ontograph_spark.pipeline.repo_source import synthesize_repo_table

        files = synthesize_repo_table(spark, args.synthesize)
    else:
        files = spark.read.format(args.format).load(args.input) \
            if args.format != "table" else spark.read.table(args.input)
    missing = REQUIRED_COLS - set(files.columns)
    if missing:
        print(
            f"input is missing required columns: {sorted(missing)}",
            file=sys.stderr,
        )
        return 2

    if args.warmup_frac > 0:
        import os as _os
        import tempfile as _tempfile

        # land the warmup output next to the real one (same filesystem)
        wout = _tempfile.mkdtemp(
            prefix="og_warmup_", dir=_os.path.dirname(args.output) or None
        )
        with constructed(spark, files.sample(args.warmup_frac, seed=7)) as warm:
            write_quads(warm, wout, args.write_partitions)
        import shutil as _shutil

        _shutil.rmtree(wout, ignore_errors=True)

    t0 = time.time()
    if args.buckets > 0:
        manifests = construct_resumable(
            spark,
            files,
            args.output,
            graph_uri=args.graph_uri,
            buckets=args.buckets,
            write_partitions=args.write_partitions,
        )
        triples = sum(m["triples"] for m in manifests)
        metrics = {
            "mode": "resumable",
            "buckets": args.buckets,
            "buckets_skipped": sum(1 for m in manifests if m["skipped"]),
            "input_rows": sum(m["input_rows"] for m in manifests),
            "triples": triples,
            "wall_sec": round(time.time() - t0, 1),
            "output": args.output,
        }
    else:
        with constructed(
            spark,
            files,
            graph_uri=args.graph_uri,
            canonicalize=not args.no_canonicalize,
            include_schema=not args.no_schema,
        ) as quads:
            write_quads(quads, args.output, args.write_partitions)
        metrics = {
            "mode": "single-shot",
            # single-shot writes a flat parquet dir (no bucket= layout)
            "triples": spark.read.parquet(args.output).count(),
            "wall_sec": round(time.time() - t0, 1),
            "output": args.output,
        }
    if metrics.get("triples") and metrics["wall_sec"] >= 0.1:
        metrics["triples_per_sec"] = round(
            metrics["triples"] / metrics["wall_sec"], 1
        )
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
