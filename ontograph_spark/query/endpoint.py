"""In-process SPARQL endpoint over quad stores.

The reference splits the system in two: a Go client that builds SPARQL
strings (blazegraph_store.go) and a Blazegraph server that answers them.
:class:`LocalSparqlEndpoint` plays the server role with the distributed
engine itself — queries are answered by :mod:`ontograph_spark.query.sparql`
over the union of the managed graphs, and updates dispatch to the quad
stores' operator surface — so the reference-shaped client
(:class:`~ontograph_spark.store.sparql_store.SparqlQuadStore`) runs its
ENTIRE operator set (checked/unchecked add/delete incl. batch rollback,
pattern match, size, drop, Turtle export) with no external service:

    endpoint = LocalSparqlEndpoint(spark, lambda uri: MemoryQuadStore(spark, uri))
    client = endpoint.client("https://g.example/my-graph")
    client.add_triples(triples)        # SPARQL in, engine answers

Update grammar accepted (exactly what the client generates, mirroring
blazegraph_store.go:104, 166, 248, 289): ``INSERT DATA { GRAPH <g> {…} }``,
``DELETE DATA { GRAPH <g> {…} }``, ``DELETE WHERE { GRAPH <g> { s p o } }``
(variables = wildcards), ``DROP GRAPH <g>`` — plus ``CLEAR GRAPH <g>``
and the graph-management forms ``COPY|MOVE|ADD [GRAPH] <src> TO
[GRAPH] <dst>`` (SPARQL 1.1 §3.2.2-3.2.5, whole-graph DataFrame
merges), ``CREATE [SILENT] GRAPH <g>`` (§3.2.1),
``LOAD [SILENT] <doc> [INTO GRAPH <g>]`` (distributed
N-Triples/N-Quads bulk read, §3.1.4) and the SPARQL 1.1 Modify form
``[WITH <g>] [DELETE {…}] [INSERT {…}] (USING [NAMED] <g>)* WHERE
{ … }``, which solves the WHERE group once and commits each graph's
instantiated batch distributed (merge_df / delete_df; DELETE before
INSERT over the same solutions, both materialized pre-commit).

Scale note: this adapter is the *compatibility* path — per-operation
driver round-trips, like the reference's own client. Bulk pipelines
should write through :meth:`QuadStoreBase.merge_df` and query through
:func:`sparql_select` directly; both are documented on the store API.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontograph_spark.query.sparql import (
    Group,
    SparqlSyntaxError,
    _Parser,
    parse_group_text,
    sparql_ask,
    sparql_select,
)
from ontograph_spark.store.base import QUAD_SCHEMA, QuadStoreBase
from ontograph_spark.store.sparql_store import SparqlQuadStore
from ontograph_spark.ontology.resources import Triple
from ontograph_spark.terms import (
    is_literal,
    is_resource,
    local_frame,
    term_datatype,
    term_language,
    term_value,
)

_UPDATE_RE = re.compile(
    r"\s*(INSERT\s+DATA|DELETE\s+DATA|DELETE\s+WHERE|DROP\s+GRAPH"
    r"|CLEAR\s+GRAPH|COPY|MOVE|ADD)\s*(.*)",
    re.S | re.I,
)

#: an IRIREF or a prefixed name, incl. the empty prefix ``:local``
#: (resolved via the update's prologue)
_IRI_OR_PNAME = r"(?:<[^<>\s]+>|(?:[A-Za-z_][\w-]*)?:[\w.-]+)"

_CREATE_RE = re.compile(
    rf"\s*CREATE\s+(SILENT\s+)?GRAPH\s+({_IRI_OR_PNAME})\s*$", re.I
)

_GRAPH_PAIR_RE = re.compile(
    r"(?:GRAPH\s+)?<([^<>\s]+)>\s+TO\s+(?:GRAPH\s+)?<([^<>\s]+)>\s*$",
    re.I,
)

_LOAD_RE = re.compile(
    rf"\s*LOAD\s+(SILENT\s+)?({_IRI_OR_PNAME})"
    rf"(?:\s+INTO\s+GRAPH\s+({_IRI_OR_PNAME}))?\s*$",
    re.I,
)

_PROLOGUE_RE = re.compile(
    r"\s*(?:\#[^\n]*(?:\n|$)"
    r"|BASE\s+<[^<>\s]*>"
    r"|PREFIX\s+([A-Za-z_][\w-]*)?:\s*<([^<>\s]*)>)",
    re.I,
)


_BASE_RE = re.compile(r"BASE\s+<([^<>\s]*)>", re.I)


def _strip_prologue(text: str) -> tuple[dict[str, str], str | None, str]:
    """Strip leading comments and BASE/PREFIX declarations from an
    update, returning (prefix map, base IRI or None, remaining text) —
    so 'PREFIX … CREATE GRAPH <g>' or a leading comment still routes to
    the CREATE/LOAD fast forms instead of falling through to the Modify
    template parser with an unrelated error."""
    prefixes: dict[str, str] = {}
    base: str | None = None
    pos = 0
    while True:
        m = _PROLOGUE_RE.match(text, pos)
        if m is None:
            break
        if m.group(2) is not None:
            prefixes[m.group(1) or ""] = m.group(2)
        else:
            bm = _BASE_RE.search(m.group(0))
            if bm is not None:
                base = bm.group(1)
        pos = m.end()
    return prefixes, base, text[pos:]


def _resolve_iri(
    tok: str, prefixes: dict[str, str], base: str | None = None
) -> str:
    """An ``<iri>`` or ``pfx:local`` token → the bare IRI text, with
    relative IRIREFs resolved against the prologue's BASE (RFC 3986 via
    urljoin — a relative IRI with no BASE stays as written, like a
    parser with an empty base)."""
    if tok.startswith("<"):
        iri = tok[1:-1]
        if base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
            import urllib.parse

            return urllib.parse.urljoin(base, iri)
        return iri
    pfx, local = tok.split(":", 1)
    if pfx not in prefixes:
        raise SparqlSyntaxError(f"unknown prefix {pfx!r} in {tok!r}")
    return prefixes[pfx] + local


def term_to_binding(term: str) -> dict:
    """Encode an N-Triples term as a SPARQL-JSON binding — the inverse of
    :func:`ontograph_spark.store.sparql_store.binding_to_term` (itself the
    twin of the reference's binding2Term, blazegraph_store.go:434-445)."""
    if not isinstance(term, str):
        # non-term scalars (COUNT results are longs)
        return {"type": "literal", "value": str(term)}
    if is_resource(term):
        return {"type": "uri", "value": term_value(term)}
    if is_literal(term):
        b: dict = {"type": "literal", "value": term_value(term)}
        lang = term_language(term)
        if lang:
            b["xml:lang"] = lang
        dt = term_datatype(term)  # already the bare datatype URI
        if dt:
            b["datatype"] = dt
        return b
    # remaining bare scalars (GROUP_CONCAT strings, STR() projections):
    # plain literals. GRAPH ?g needs no special case here — graph
    # variables bind encoded <uri> resource terms (sparql._graph_term),
    # so they serialize as uri bindings through is_resource above.
    return {"type": "literal", "value": str(term)}


class LocalSparqlEndpoint:
    """SPARQL query+update service over engine-managed quad stores.

    ``store_factory(uri)`` creates the backend for a graph on first
    touch — any :class:`QuadStoreBase` (in-memory for fixtures, parquet
    for shared persistent graphs with one backing table)."""

    def __init__(
        self,
        spark: SparkSession,
        store_factory: Callable[[str], QuadStoreBase],
    ) -> None:
        self.spark = spark
        self._factory = store_factory
        self._stores: dict[str, QuadStoreBase] = {}

    def store_for(self, uri: str) -> QuadStoreBase:
        if uri not in self._stores:
            self._stores[uri] = self._factory(uri)
        return self._stores[uri]

    def client(self, uri: str) -> SparqlQuadStore:
        """A reference-shaped SPARQL client whose transport is this
        endpoint (no HTTP, no server)."""
        self.store_for(uri)
        return _LocalClient(self, uri)

    # -- the "server" ------------------------------------------------------

    def _world(self) -> DataFrame:
        """Union of all managed graphs — the dataset queries run over.
        Stores sharing one backing table contribute identical scans and
        collapse via ReuseExchange; the union is a plan, not a copy."""
        dfs = [s.df() for s in self._stores.values()]
        if not dfs:
            return local_frame(self.spark, [], QUAD_SCHEMA)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def query(self, sparql: str) -> dict:
        """Answer SELECT/ASK (the SPARQL-JSON result shape the reference
        client decodes, blazegraph_endpoint.go:265-284) plus
        CONSTRUCT/DESCRIBE, whose graph results come back as bindings
        over ``subj``/``pred``/``obj`` (an in-process convenience — a
        wire endpoint would serialize RDF instead)."""
        kind = _Parser(sparql).parse_query().kind
        world = self._world()
        if kind == "ask":
            return {"boolean": sparql_ask(world, sparql)}
        if kind in ("construct", "describe"):
            from ontograph_spark.query import sparql_construct, sparql_describe

            fn = sparql_construct if kind == "construct" else sparql_describe
            df = fn(world, sparql)
            bindings = [
                {var: term_to_binding(val) for var, val in row.asDict().items()}
                for row in df.collect()
            ]
            return {
                "head": {"vars": df.columns},
                "results": {"bindings": bindings},
            }
        if kind != "select":
            raise SparqlSyntaxError(f"endpoint answers SELECT/ASK, not {kind}")
        df = sparql_select(world, sparql)
        bindings = [
            {
                var: term_to_binding(val)
                for var, val in row.asDict().items()
                if val is not None
            }
            for row in df.collect()
        ]
        return {"head": {"vars": df.columns}, "results": {"bindings": bindings}}

    def query_serialized(
        self, sparql: str, accept: str = "application/sparql-results+json"
    ) -> str:
        """Answer a query and serialize per the ``Accept`` media type
        (SPARQL-JSON/XML/CSV/TSV) — the full wire behavior an HTTP
        front end needs, minus the socket."""
        from ontograph_spark.query.results import serialize_results

        return serialize_results(self.query(sparql), accept)

    def update(self, sparql: str) -> None:
        """Execute an update by dispatching to the graph's store operators.
        Template updates (``INSERT|DELETE { … } WHERE { … }``) solve the
        WHERE group over the whole dataset and commit each target graph's
        instantiated batch distributed (merge_df / delete_df — no
        driver-side triple lists)."""
        prefixes, base, body = _strip_prologue(sparql)
        cm = _CREATE_RE.match(body)
        if cm is not None:
            # CREATE [SILENT] GRAPH <g> (§3.2.1): make the graph managed;
            # an already-managed graph is an error unless SILENT
            uri = _resolve_iri(cm.group(2), prefixes, base)
            if uri in self._stores and not cm.group(1):
                raise SparqlSyntaxError(f"graph already exists: <{uri}>")
            self.store_for(uri)
            return
        lm = _LOAD_RE.match(body)
        if lm is not None:
            self._load(
                silent=lm.group(1) is not None,
                source=_resolve_iri(lm.group(2), prefixes, base),
                into=(
                    _resolve_iri(lm.group(3), prefixes, base)
                    if lm.group(3)
                    else None
                ),
            )
            return
        # the remaining fast forms keep matching the RAW text — a
        # prologue routes them to the full Modify template parser,
        # which resolves prefixes itself
        m = _UPDATE_RE.match(sparql)
        if m is None:
            from ontograph_spark.query.sparql import sparql_update_template

            ops = sparql_update_template(self._world(), sparql)
            if len(ops) > 1:
                # DELETE + INSERT instantiate against the same WHERE
                # solutions: materialize every batch BEFORE the first
                # commit, or the delete would change what the lazy
                # insert batch scans
                ops = [
                    (
                        form,
                        {
                            uri: batch.localCheckpoint(eager=True)
                            for uri, batch in by_graph.items()
                        },
                    )
                    for form, by_graph in ops
                ]
            for form, by_graph in ops:
                for uri, batch in by_graph.items():
                    store = self.store_for(uri)
                    if form == "INSERT":
                        store.merge_df(batch)
                    else:
                        store.delete_df(batch)
            return
        form = re.sub(r"\s+", " ", m.group(1).upper())
        rest = m.group(2)
        if form in ("DROP GRAPH", "CLEAR GRAPH"):
            iri = rest.strip()
            if not (iri.startswith("<") and iri.endswith(">")):
                raise SparqlSyntaxError(f"{form} needs an IRI: {rest!r}")
            uri = iri[1:-1]
            if form == "CLEAR GRAPH":
                # graph stays managed, contents removed (SPARQL §3.2.2)
                self.store_for(uri).delete_all_matches("", "", "")
                return
            self.store_for(uri).drop()
            del self._stores[uri]
            return
        if form in ("COPY", "MOVE", "ADD"):
            # SPARQL 1.1 Update graph management (§3.2.3-3.2.5):
            # COPY = replace dst with src; ADD = union into dst;
            # MOVE = COPY then drop src. Whole-graph DataFrame merges —
            # no triple lists on the driver.
            pm = _GRAPH_PAIR_RE.match(rest.strip())
            if pm is None:
                raise SparqlSyntaxError(
                    f"{form} needs GRAPH <src> TO GRAPH <dst>: {rest!r}"
                )
            src_uri, dst_uri = pm.group(1), pm.group(2)
            if src_uri == dst_uri:
                return  # no-op per spec
            src = self.store_for(src_uri)
            dst = self.store_for(dst_uri)
            if form in ("COPY", "MOVE"):
                dst.delete_all_matches("", "", "")
            dst.merge_df(
                src.df().withColumn("graph", F.lit(dst_uri))
            )
            if form == "MOVE":
                src.drop()
                del self._stores[src_uri]
            return
        group = parse_group_text(rest)
        if not group.is_plain_triples():
            raise SparqlSyntaxError(f"{form} body must be plain triples")
        if form in ("INSERT DATA", "DELETE DATA"):
            by_graph = self._data_triples(group, form)
            for uri, triples in by_graph.items():
                store = self.store_for(uri)
                if form == "INSERT DATA":
                    store.add_triples_unchecked(triples)
                else:
                    store.delete_triples_unchecked(triples)
            return
        # DELETE WHERE: each pattern is an independent wildcard delete
        for pat in group.patterns:
            if pat.g is None or pat.g[0] != "term":
                raise SparqlSyntaxError("DELETE WHERE needs GRAPH <uri> scope")
            wild = [
                val if kind == "term" else ""
                for kind, val in (pat.s, pat.p, pat.o)
            ]
            self.store_for(pat.g[1]).delete_all_matches(*wild)

    def _load(self, silent: bool, source: str, into: str | None) -> None:
        """SPARQL 1.1 Update ``LOAD [SILENT] <doc> [INTO GRAPH <g>]``
        (§3.1.4): bulk-read an N-Triples or N-Quads document
        (``file:`` IRIs and plain paths; ``.nq`` selects the quad
        reader) distributed and merge it. ``INTO GRAPH`` scopes every
        statement to that graph; without it an N-Quads document routes
        each quad to its own named graph (this endpoint is
        multi-graph — there is no unnamed default), while N-Triples
        without INTO is an error. SILENT swallows read failures per the
        spec."""
        path = source
        if path.startswith("file://"):
            path = path[len("file://"):]
        is_nq = path.endswith(".nq") or path.endswith(".nquads")
        if not is_nq and into is None:
            # a local USAGE error, not a read failure — SILENT swallows
            # remote/read trouble (§3.1.4), never this
            raise SparqlSyntaxError(
                "LOAD of an N-Triples document needs INTO GRAPH"
                " <g> (this endpoint has no unnamed default"
                " graph)"
            )
        try:
            if is_nq:
                from ontograph_spark.sources.nquads import read_nquads

                quads = read_nquads(
                    self.spark, path, default_graph=into or "", strict=True
                )
            else:
                from ontograph_spark.sources.ntriples import read_ntriples

                quads = read_ntriples(self.spark, path, into)
            if into is not None:
                quads = quads.withColumn("graph", F.lit(into))
                # force the read here so a parse/fetch failure is still
                # a SILENT-swallowable load error, while the merge below
                # stays outside the catch
                quads = quads.localCheckpoint(eager=True)
                graphs = [into]
            else:
                # route per named graph: the distinct graph list is
                # vocabulary-sized (one store per graph by construction)
                graphs = [
                    r[0] for r in quads.select("graph").distinct().collect()
                ]
        except Exception as e:
            if silent:
                return  # LOAD SILENT: read failure leaves stores unchanged
            if isinstance(e, SparqlSyntaxError):
                raise
            raise SparqlSyntaxError(f"LOAD <{source}> failed: {e}") from e
        # usage errors and the merges sit OUTSIDE the silent catch:
        # SILENT swallows fetch/parse trouble (§3.1.4), never a
        # locally-detectable misuse, and a half-applied merge failing
        # quietly would be data loss
        if "" in graphs:
            raise SparqlSyntaxError(
                f"LOAD <{source}>: document has graph-less statements"
                " and no INTO GRAPH was given"
            )
        if into is not None:
            self.store_for(into).merge_df(quads)
            return
        for g in graphs:
            self.store_for(g).merge_df(quads.where(F.col("graph") == g))

    @staticmethod
    def _data_triples(group: Group, form: str) -> dict[str, list[Triple]]:
        out: dict[str, list[Triple]] = {}
        for pat in group.patterns:
            if pat.g is None or pat.g[0] != "term":
                raise SparqlSyntaxError(f"{form} needs GRAPH <uri> scope")
            slots = []
            for kind, val in (pat.s, pat.p, pat.o):
                if kind != "term":
                    raise SparqlSyntaxError(f"{form} cannot contain variables")
                slots.append(val)
            out.setdefault(pat.g[1], []).append(Triple(*slots))
        return out


class _LocalClient(SparqlQuadStore):
    """SparqlQuadStore whose transport is a LocalSparqlEndpoint."""

    def __init__(self, endpoint: LocalSparqlEndpoint, uri: str) -> None:
        super().__init__(uri, f"local://{uri}")
        self._endpoint = endpoint

    def _execute_query(self, sparql: str) -> dict:
        return self._endpoint.query(sparql)

    def _execute_update(self, sparql: str) -> None:
        self._endpoint.update(sparql)
