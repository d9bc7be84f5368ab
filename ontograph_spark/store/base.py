"""Quad-table graph store: the GraphStore operator set as DataFrame algebra.

The reference's ``GraphStore`` interface (/root/reference/graph_store.go:9-50)
defines 17 CRUD/pattern primitives over one named graph. Here a *store* is a
view over a **quad table** ``(subj, pred, obj, graph)`` — all string-typed
N-Triples terms plus the graph URI — and every operator is expressed as
declarative DataFrame algebra so Catalyst gets predicate pushdown, column
pruning and join planning for free:

* pattern match      → conjunctive equality ``filter`` (pushed to the scan)
* existence checks   → ``left_semi`` probes
* checked batch add  → pre-flight semi-join gate, then a single append
                       (one commit ⇒ the reference's rollback-on-conflict
                       post-state for free)
* unchecked add      → ``left_anti`` pre-filter then append (set semantics
                       without a full-store ``dropDuplicates``)
* delete             → ``left_anti`` rewrite
* size               → ``count``

Set semantics invariant: the quad table never contains two identical
``(subj, pred, obj, graph)`` rows (memory_store.go:125-134, 160-167).

Backends supply storage by implementing ``_df``/``_commit``:
``MemoryQuadStore`` (checkpointed in-memory DataFrame — the analogue of the
reference's in-memory store) and ``ParquetQuadStore`` (snapshot directories
with an atomically-swapped commit pointer — the sandbox stand-in for an
Iceberg table with MERGE; at cluster scale the same algebra commits through
Iceberg row-level operations instead).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ontograph_spark.errors import (
    TripleAlreadyExistsError,
    TripleDoesNotExistError,
)
from ontograph_spark.ontology.resources import Triple

#: Engine-wide fixed schema: the quad table.
QUAD_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("graph", StringType(), False),
    ]
)

QUAD_COLS = ["subj", "pred", "obj", "graph"]


def pattern_filter(subj: str = "", pred: str = "", obj: str = "") -> Column:
    """Conjunction of equality predicates; empty string = wildcard
    (graph_store.go:13-19). Catalyst pushes these into the scan."""
    cond = F.lit(True)
    if subj:
        cond = cond & (F.col("subj") == subj)
    if pred:
        cond = cond & (F.col("pred") == pred)
    if obj:
        cond = cond & (F.col("obj") == obj)
    return cond


class QuadStoreBase:
    """One named graph over a quad table (graph_store.go:9-50)."""

    def __init__(self, spark: SparkSession, uri: str) -> None:
        self.spark = spark
        self._uri = uri

    # -- backend contract -------------------------------------------------

    def _df(self) -> DataFrame:
        """The full quad table (may contain several graphs)."""
        raise NotImplementedError

    def _commit(
        self, df: DataFrame, op: str = "mutate", touched: DataFrame | None = None
    ) -> None:
        """Replace the quad table contents with ``df`` (one atomic commit).

        ``touched`` is an optional hint: a DataFrame of quad rows whose
        (graph, subject) keys cover every row the mutation added or
        removed. Backends with partitioned storage (ParquetQuadStore)
        use it to commit only the affected partitions — the Iceberg
        MERGE-granularity behavior; backends without it ignore it."""
        raise NotImplementedError

    def _drop_backend(self) -> None:
        """Backend hook for Drop(); default removes this graph's rows."""
        self._commit(
            self._df().where(F.col("graph") != self._uri),
            op="drop",
            touched=self.df(),
        )

    # -- helpers ----------------------------------------------------------

    def get_uri(self) -> str:
        return self._uri

    def df(self) -> DataFrame:
        """This graph's triples as a DataFrame (scoped scan)."""
        return self._df().where(F.col("graph") == self._uri)

    def match_df(self, subj: str = "", pred: str = "", obj: str = "") -> DataFrame:
        """Distributed form of GetAllMatches: a filtered DataFrame."""
        return self.df().where(pattern_filter(subj, pred, obj))

    def _triples_df(self, triples: Iterable[Triple]) -> DataFrame:
        rows = [(t.subject, t.predicate, t.object, self._uri) for t in triples]
        return self.spark.createDataFrame(rows, QUAD_SCHEMA)

    @staticmethod
    def _row_triple(row) -> Triple:
        return Triple(row["subj"], row["pred"], row["obj"])

    # -- read path (graph_store.go #2,3,5,16) -----------------------------

    def get_first_match(
        self, subj: str = "", pred: str = "", obj: str = ""
    ) -> Triple | None:
        rows = self.match_df(subj, pred, obj).limit(1).collect()
        return self._row_triple(rows[0]) if rows else None

    def get_all_matches(
        self, subj: str = "", pred: str = "", obj: str = ""
    ) -> list[Triple]:
        return [self._row_triple(r) for r in self.match_df(subj, pred, obj).collect()]

    def get_all_triples(self) -> list[Triple]:
        return self.get_all_matches()

    def size(self) -> int:
        return self.df().count()

    # -- write path (graph_store.go #4,6-13) ------------------------------

    def delete_all_matches(self, subj: str = "", pred: str = "", obj: str = "") -> None:
        """Anti-filter rewrite; no-op when nothing matches."""
        keep = ~((F.col("graph") == self._uri) & pattern_filter(subj, pred, obj))
        self._commit(
            self._df().where(keep),
            op="delete_matches",
            touched=self.match_df(subj, pred, obj),
        )

    def add_triple(self, triple: Triple) -> None:
        """Checked insert (memory_store.go:125-134)."""
        self.add_triples([triple])

    def add_triples(self, triples: list[Triple]) -> None:
        """Atomic checked batch: the reference adds sequentially and rolls
        back on the first conflict (memory_store.go:137-157), so the
        observable post-state is all-or-nothing. One pre-flight gate plus a
        single append reproduces it: conflict iff any row already exists OR
        the batch repeats a row (its second copy would conflict)."""
        if not triples:
            return
        seen: set[tuple[str, str, str]] = set()
        for t in triples:
            key = t.as_tuple()
            if key in seen:
                raise TripleAlreadyExistsError()
            seen.add(key)
        new_df = self._triples_df(triples)
        clash = new_df.join(self.df(), on=QUAD_COLS, how="left_semi")
        if clash.limit(1).count() > 0:
            raise TripleAlreadyExistsError()
        self._commit(self._df().unionByName(new_df), op="add", touched=new_df)

    def add_triple_unchecked(self, triple: Triple) -> None:
        self.add_triples_unchecked([triple])

    def add_triples_unchecked(self, triples: list[Triple]) -> None:
        """Idempotent bulk insert — the pipeline's main write path
        (UpsertResource → AddTriplesUnchecked, ontology_graph.go:275).
        ``left_anti`` against the store keeps set semantics with one
        shuffle over the (small) new batch instead of a full-store dedup."""
        if not triples:
            return
        new_df = self._triples_df(triples).dropDuplicates(QUAD_COLS)
        fresh = new_df.join(self.df(), on=QUAD_COLS, how="left_anti")
        self._commit(self._df().unionByName(fresh), op="add", touched=new_df)

    def merge_df(self, quads: DataFrame) -> None:
        """Distributed idempotent MERGE of a quad DataFrame (same columns).
        This is the scale path: callers hand an arbitrarily large triple
        batch; dedup + anti-join + single append = one commit."""
        new_df = quads.select(*QUAD_COLS).dropDuplicates(QUAD_COLS)
        fresh = new_df.join(self._df(), on=QUAD_COLS, how="left_anti")
        self._commit(self._df().unionByName(fresh), op="merge", touched=new_df)

    def delete_df(self, quads: DataFrame) -> None:
        """Distributed unchecked delete of a quad DataFrame (same
        columns) — the DataFrame twin of ``delete_triples_unchecked``
        and the scale path for template updates (DELETE … WHERE …):
        one anti-join + single commit; rows not present are ignored."""
        gone = quads.select(*QUAD_COLS).dropDuplicates(QUAD_COLS)
        kept = self._df().join(gone, on=QUAD_COLS, how="left_anti")
        self._commit(kept, op="delete", touched=gone)

    def delete_triple(self, triple: Triple) -> None:
        """Checked delete (memory_store.go:181-190)."""
        self.delete_triples([triple])

    def delete_triples(self, triples: list[Triple]) -> None:
        """Atomic checked batch delete: all requested rows must exist and
        be distinct, else the post-state is unchanged and
        TripleDoesNotExist is raised (memory_store.go:193-213 — a repeated
        row's second delete also misses)."""
        if not triples:
            return
        seen: set[tuple[str, str, str]] = set()
        for t in triples:
            key = t.as_tuple()
            if key in seen:
                raise TripleDoesNotExistError()
            seen.add(key)
        req_df = self._triples_df(triples)
        missing = req_df.join(self.df(), on=QUAD_COLS, how="left_anti")
        if missing.limit(1).count() > 0:
            raise TripleDoesNotExistError()
        self._delete_rows(req_df)

    def delete_triple_unchecked(self, triple: Triple) -> None:
        self.delete_triples_unchecked([triple])

    def delete_triples_unchecked(self, triples: list[Triple]) -> None:
        if not triples:
            return
        self._delete_rows(self._triples_df(triples))

    def _delete_rows(self, req_df: DataFrame) -> None:
        self._commit(
            self._df().join(req_df, on=QUAD_COLS, how="left_anti"),
            op="delete",
            touched=req_df,
        )

    def upsert_subjects(
        self, subjects: DataFrame, quads: DataFrame, broadcast: bool = True
    ) -> None:
        """The canonical distributed upsert (UpsertResource semantics,
        ontology_graph.go:267-287, vectorized): for every subject term in
        ``subjects`` (single column ``subj``), drop all rows where it
        appears as subject *or* as object (referential cleanup), then
        insert ``quads`` — all in ONE commit.

        Two equi anti-joins (subj, then obj) keep the plan hash-joinable
        and broadcastable — an OR-condition anti-join would degrade to a
        nested-loop join at scale.

        Input contract: callers materialize both inputs first (a store
        snapshot, a written parquet table, a persisted or checkpointed
        DataFrame). ``subjects`` feeds two anti-joins and the two
        semi-joins of the touched hint, ``quads`` the insert and the
        hint; the hint is collected in one job and the commit written in
        another, and nothing here caches. A lazy plan such as
        ``construct_kg``'s output is therefore recomputed for each use:
        upserting 20 changed files that way took 27.7 s, against 7.8 s
        for a ``merge_df`` of 20 new files on the same store.
        """
        s = subjects.select("subj").distinct()
        if broadcast:
            # small affected-subject sets (interactive upserts): broadcast
            # hash anti-join, no shuffle of the store side. Pipeline-scale
            # merges pass broadcast=False and let AQE pick the strategy.
            s = F.broadcast(s)
        mine = self.df()
        others = self._df().where(F.col("graph") != self._uri)
        keep = mine.join(s, on="subj", how="left_anti")
        keep = keep.join(
            s.withColumnRenamed("subj", "obj"), on="obj", how="left_anti"
        )
        new = quads.select(*QUAD_COLS).dropDuplicates(QUAD_COLS)
        # touched hint: rows removed (subject hit or referential obj
        # cleanup — the latter live in the partition of THEIR subject)
        # plus the inserted batch
        removed = mine.join(s, on="subj", how="left_semi").unionByName(
            mine.join(s.withColumnRenamed("subj", "obj"), on="obj", how="left_semi")
        )
        self._commit(
            others.unionByName(keep.select(*QUAD_COLS)).unionByName(new),
            op="upsert",
            touched=removed.select(*QUAD_COLS).unionByName(new),
        )

    def graphs(self) -> list[str]:
        """Distinct graph URIs in the backing quad table — the quad-table
        analogue of the endpoint's GetGraphs (blazegraph_endpoint.go:
        158-175); one distinct over the partition column."""
        return sorted(
            r["graph"] for r in self._df().select("graph").distinct().collect()
        )

    def drop(self) -> None:
        """Clear the store and render it unusable (memory_store.go:235-239)."""
        self._drop_backend()
        self._uri = ""

    # -- SPARQL answering (ontograph_spark/query) --------------------------

    def sparql_select(self, query: str) -> DataFrame:
        """Answer a SPARQL SELECT over this store's quad table — the
        distributed counterpart of the reference's server-side answering
        (the reference can only POST the query to Blazegraph,
        blazegraph_store.go:40-53). Patterns outside a GRAPH clause match
        every graph in the backing table."""
        from ontograph_spark.query import sparql_select

        return sparql_select(self._df(), query)

    def sparql_ask(self, query: str) -> bool:
        """Answer a SPARQL ASK over this store's quad table (one
        ``limit(1)`` probe)."""
        from ontograph_spark.query import sparql_ask

        return sparql_ask(self._df(), query)

    def sparql_describe(self, query: str) -> DataFrame:
        """Answer a SPARQL DESCRIBE over this store's quad table:
        ``(subj, pred, obj)`` rows of every triple whose subject is a
        described resource (subject-oriented description — SPARQL 1.1
        §16.4 leaves the form implementation-defined)."""
        from ontograph_spark.query import sparql_describe

        return sparql_describe(self._df(), query)

    # -- serialization (graph_store.go #15) -------------------------------

    def serialize_to_turtle(self, writer, pretty: bool = False) -> None:
        from ontograph_spark.store.turtle import serialize_to_turtle

        serialize_to_turtle(self, writer, pretty)
