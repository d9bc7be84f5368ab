"""``gate_entries``: timed passes over driver-contract entries built on the
TPC-H quad source (``sources/tpch_quads.quads_df``).

The four source tables (region, nation, supplier, customer) are written
during set-up at the sf0.01 shape from the seed. Each entry's rows are
checked against its ``oracle_sql()`` twin run by DuckDB over the same
files, normalized as the repository's entry-contract test does.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entries

import harness as H

#: one pass: the source layer's fixed cost under a bare count, a SPARQL
#: BGP join and SPARQL property-path closure
PASS = ("store_size", "sparql_bgp", "sparql_path")
SUPPLIERS, CUSTOMERS = 100, 1500
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def write_tpch(seed: int, root: str) -> None:
    """region/nation/supplier/customer with the testdata's schema and value
    ranges; keys, nations, balances and segments drawn from ``seed``."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)

    def bal() -> float:
        return round(rng.uniform(-999.99, 9999.99), 2)

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(SUPPLIERS), pa.int64()),
                "s_name": [f"Supplier#{k:09d}" for k in range(SUPPLIERS)],
                "s_nationkey": pa.array([rng.randrange(25) for _ in range(SUPPLIERS)], pa.int32()),
                "s_acctbal": pa.array([bal() for _ in range(SUPPLIERS)], pa.float64()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(CUSTOMERS), pa.int64()),
                "c_name": [f"Customer#{k:09d}" for k in range(CUSTOMERS)],
                "c_nationkey": pa.array([rng.randrange(25) for _ in range(CUSTOMERS)], pa.int32()),
                "c_acctbal": pa.array([bal() for _ in range(CUSTOMERS)], pa.float64()),
                "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(CUSTOMERS)],
            }
        ),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))


def normalize(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


class GateEntries:
    name = "gate_entries"

    def __init__(self, spark, work: H.WorkDir, seed: int, tracer: H.Tracer) -> None:
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer

    def setup(self) -> None:
        self.sf_dir = self.work.sub("tpch")
        write_tpch(self.seed, self.sf_dir)
        con = duckdb.connect()
        for t in ("region", "nation", "supplier", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        sql = entries.oracle_sql()
        self.expected = {}
        for name in PASS:
            rel = con.sql(sql[name])
            self.expected[name] = normalize(rel.fetchall(), [d[0] for d in rel.description])
        con.close()
        self.fns = entries.queries()

    def ops(self) -> list:
        return [lambda name=name: self.entry(name) for name in PASS]

    def entry(self, name: str) -> float:
        with self.tr.span("gate.op", entry=name) as op:
            with self.tr.span("sources.build"):
                df = self.fns[name](self.spark, self.sf_dir)
            with self.tr.span("gate.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tr.span("gate.exec"):
                rows = df.collect()
        H.release_caches(self.spark)
        got = normalize(rows, df.columns)
        H.same_rows(f"gate {name}", got, self.expected[name])
        self.last = (name, got)
        return op["wall_s"]

    def prove_checks(self) -> None:
        name, got = self.last
        check = lambda rows: H.same_rows(f"gate {name}", sorted(rows), self.expected[name])  # noqa: E731
        H.must_reject(f"gate {name} / dropped row", check, H.drop_one(got))
        H.must_reject(f"gate {name} / altered term", check, H.alter_one(got))

    def layer_metrics(self) -> dict:
        return {}
