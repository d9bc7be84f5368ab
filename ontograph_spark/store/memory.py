"""In-memory quad store backed by a checkpointed DataFrame.

The analogue of the reference's in-memory backend
(/root/reference/memory_store.go) for graphs that fit one machine: state
lives in an in-memory DataFrame; each mutation produces a new plan that is
eagerly ``localCheckpoint``-ed so lineage stays flat across long mutation
sequences (an unbounded union/anti-join chain would otherwise grow the plan
per op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ontograph_spark.store.base import QUAD_COLS, QUAD_SCHEMA, QuadStoreBase
from ontograph_spark.terms import local_frame


class MemoryQuadStore(QuadStoreBase):
    def __init__(self, spark: SparkSession, uri: str) -> None:
        super().__init__(spark, uri)
        self._quads: DataFrame | None = local_frame(spark, [], QUAD_SCHEMA)

    @classmethod
    def from_df(cls, spark: SparkSession, uri: str, quads: DataFrame) -> MemoryQuadStore:
        store = cls(spark, uri)
        store._commit("load", added=quads.select(*QUAD_COLS))
        return store

    @classmethod
    def from_turtle(cls, spark: SparkSession, text: str) -> MemoryQuadStore:
        """Build a store from Turtle text — the reference's
        ``ParseFromTurtle`` constructor (memory_store.go:32-60): the
        graph URI is the subject of the ``?x rdf:type owl:Ontology``
        triple, else the subject of the first triple; empty input raises
        (``No triple found in reader data``). Fixture-scale loading —
        bulk ingest goes through the distributed N-Triples source."""
        from ontograph_spark.store.turtle import parse_turtle

        base, triples = parse_turtle(text)
        store = cls(spark, base)
        rows = [(s, p, o, base) for s, p, o in triples]
        store._commit(
            "load",
            added=local_frame(spark, rows, QUAD_SCHEMA).dropDuplicates(QUAD_COLS),
        )
        return store

    def _df(self) -> DataFrame:
        if self._quads is None:
            raise RuntimeError("store has been dropped")
        return self._quads

    def _commit(
        self,
        op: str,
        added: DataFrame | None = None,
        removed: DataFrame | None = None,
    ) -> None:
        df = self._df()
        if removed is not None:
            df = df.join(removed, on=QUAD_COLS, how="left_anti")
        if added is not None:
            df = df.unionByName(added)
        self._quads = df.localCheckpoint(eager=True)

    def _drop_backend(self) -> None:
        self._quads = None
