"""SPARQL 1.1 Federation: ``SERVICE`` execution.

``SERVICE <endpoint> { pattern }`` evaluates the inner pattern on a
REMOTE SPARQL endpoint and joins the returned bindings into the local
solution — SPARQL 1.1 Federated Query. The standard implementation
everywhere (Jena, Virtuoso, Blazegraph) is exactly this shape: the
inner group is shipped as a SELECT over the same wire protocol the
reference's client speaks (form-encoded POST + SPARQL-JSON decode,
blazegraph_store.go), the bindings come back driver-side, and the join
happens in the local engine. Remote result sets are broadcast-sized by
construction (an endpoint answering millions of rows over HTTP is the
anti-pattern federation docs warn about) — so the local join is a
broadcast hash join against the distributed solution set.

Scope (documented): the service body ships triple blocks, property
paths, FILTER (incl. [NOT] EXISTS), OPTIONAL, UNION and VALUES,
optionally under ``GRAPH <uri>`` or ``GRAPH ?var`` — the federation
shapes that serialize faithfully. MINUS/BIND (textual-position
semantics a flat serializer cannot reproduce) and nested
SERVICE/subqueries raise loudly. ``SERVICE SILENT`` turns endpoint
failures into the empty join-identity per the spec. When the local
side of the join is already solved and small, its distinct shared
bindings ship inside the query as a VALUES block (SPARQL 1.1 Fed
§2.1 bound join — see ``BOUND_JOIN_MAX``).
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request
from contextlib import contextmanager

#: Per-thread SERVICE execution policy. ``True`` = allow any endpoint
#: (the library default — a local caller writing SERVICE into their own
#: query is the trusting party), ``False`` = reject all SERVICE
#: execution, or an iterable of allowed URL prefixes. The HTTP server
#: applies ``False`` by default: a client able to POST queries must not
#: be able to make the driver fetch arbitrary internal URLs (SSRF).
_POLICY = threading.local()


@contextmanager
def service_policy(allow):
    """Scope the SERVICE execution policy for the current thread.

    ``allow`` is ``True`` (any endpoint), ``False`` (none), or an
    iterable of URL prefixes (e.g. ``["https://query.example.org/"]``).
    """
    prev = getattr(_POLICY, "value", True)
    _POLICY.value = (
        allow if isinstance(allow, bool) else tuple(str(p) for p in allow)
    )
    try:
        yield
    finally:
        _POLICY.value = prev


def check_service_allowed(endpoint_url: str) -> None:
    """Raise unless the current policy allows fetching ``endpoint_url``.

    A policy rejection raises even under ``SERVICE SILENT`` — SILENT
    covers *endpoint* failures (the spec's join identity), not a
    deliberate local security policy, which must be loud."""
    from ontograph_spark.query.sparql import SparqlSyntaxError

    allow = getattr(_POLICY, "value", True)
    if allow is True:
        return
    if allow and any(endpoint_url.startswith(p) for p in allow):
        return
    raise SparqlSyntaxError(
        f"SERVICE execution is not permitted for <{endpoint_url}> on this"
        " endpoint (federation is disabled for untrusted clients; see"
        " ontograph_spark.query.federation.service_policy)"
    )


def _escape_str(s: str) -> str:
    """Escape a string literal per the SPARQL ECHAR production — a
    value parsed from ``\\n``-style escapes locally must re-embed as an
    escape, not a raw control character, or the shipped SERVICE query
    is a remote parse error (silently empty under SERVICE SILENT)."""
    return (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
        .replace("\f", "\\f")
        .replace("\b", "\\b")
    )


#: SPARQL 1.1 Fed §2.1 bound join: when the LOCAL side of a SERVICE
#: join is already solved and its distinct bindings on the shared
#: variables number at most this, they ship inside the query as a
#: VALUES block so the endpoint returns only compatible rows instead
#: of the whole unconstrained relation. Above it, the unconstrained
#: fetch (correct at any size, expensive at scale) remains the
#: fallback. Module-level so deployments (and tests) can tune it.
BOUND_JOIN_MAX = 64


def term_to_surface(term: str | None) -> str:
    """An encoded term (or unbound ``None``) as SPARQL surface syntax
    for a VALUES cell — literals re-escaped per ECHAR."""
    if term is None:
        return "UNDEF"
    if term.startswith('"'):
        from ontograph_spark.terms import (
            term_datatype,
            term_language,
            term_value,
        )

        out = f'"{_escape_str(term_value(term))}"'
        lang = term_language(term)
        if lang:
            return f"{out}@{lang}"
        dt = term_datatype(term)
        if dt:
            return f"{out}^^<{dt}>"
        return out
    return term  # IRIs (and any other encoded form) are surface syntax


def path_to_sparql(node) -> str:
    """Serialize a property-path AST back to SPARQL surface syntax
    (conservatively parenthesized — extra parens are legal)."""
    k = node[0]
    if k == "link":
        return node[1]
    if k == "inv":
        return f"^({path_to_sparql(node[1])})"
    if k == "seq":
        return "/".join(f"({path_to_sparql(x)})" for x in node[1])
    if k == "alt":
        return "(" + "|".join(path_to_sparql(x) for x in node[1]) + ")"
    if k == "plus":
        return f"({path_to_sparql(node[1])})+"
    if k == "star":
        return f"({path_to_sparql(node[1])})*"
    if k == "zeroone":
        return f"({path_to_sparql(node[1])})?"
    if k == "neg":
        return "!(" + "|".join(node[1]) + ")"
    from ontograph_spark.query.sparql import SparqlSyntaxError

    raise SparqlSyntaxError(f"path node {node!r} has no serialization")


def _values_block(names: list[str], rows: list[tuple]) -> str:
    """Serialize a VALUES data block — shared by in-body data blocks
    and the bound-join injection."""
    cells = " ".join(
        "(" + " ".join(term_to_surface(c) for c in row) + ")"
        for row in rows
    )
    head = " ".join(f"?{n}" for n in names)
    return f"VALUES ({head}) {{ {cells} }}"


def _mandatory_vars(grp) -> set[str]:
    """Variables bound by the service body's top-level (non-OPTIONAL)
    triple/path patterns and GRAPH ?var slots — the only ones safe to
    constrain with an injected VALUES block. A variable that appears
    only inside a remote OPTIONAL (or only in some UNION branches /
    with UNDEF cells in a data block) may come back unbound, and
    unbound is join-compatible with every local binding, so
    constraining it would wrongly drop rows. Path endpoints are always
    bound in solutions (a zero-length walk still binds both ends)."""
    out: set[str] = set()
    for pat in grp.patterns:
        for s in (pat.s, pat.p, pat.o, pat.g):
            if s is not None and s[0] == "var":
                out.add(s[1])
    for pp in grp.paths:
        for s in (pp.s, pp.o, pp.g):
            if s is not None and s[0] == "var":
                out.add(s[1])
    return out


def local_bindings_for_bound_join(
    df, sgroup, limit: int | None = None
) -> tuple[list[str], list[tuple]] | None:
    """The local join side's distinct bindings over the variables it
    shares with the SERVICE body's mandatory patterns — or ``None``
    when there is nothing to share or the binding set exceeds the
    bound-join threshold (the caller then ships the query
    unconstrained, the always-correct fallback)."""
    limit = BOUND_JOIN_MAX if limit is None else limit
    shared = [
        c
        for c in df.columns
        if c != "__exists__" and c in _mandatory_vars(sgroup)
    ]
    if not shared:
        return None
    # the probe is a full pass over the local side — persist it first so
    # the SERVICE join (and everything downstream of it) reuses the
    # partitions the probe computed instead of re-deriving the local
    # plan from scratch. The cache's lifetime is the plan's, like every
    # operator-level persist in this engine.
    from pyspark import StorageLevel

    df.persist(StorageLevel.MEMORY_AND_DISK)
    rows = df.select(*shared).distinct().limit(limit + 1).collect()
    if len(rows) > limit:
        return None
    return shared, [tuple(r) for r in rows]


def expr_to_sparql(node) -> str:
    """Serialize a parsed expression AST back to SPARQL surface text —
    the round-trip that lets FILTER constraints inside a SERVICE body
    ship to the remote endpoint verbatim. Prefixed names were resolved
    at parse time, so the output needs no prologue. Raises
    SparqlSyntaxError for node kinds with no faithful serialization."""
    from ontograph_spark.query.sparql import SparqlSyntaxError

    k = node[0]
    if k == "var":
        return f"?{node[1]}"
    if k == "num":
        return node[1]  # the constant's lexical form, as written
    if k == "str":
        return f'"{_escape_str(node[1])}"'
    if k == "term":
        return node[1]  # encoded terms ARE surface syntax
    if k == "or":
        return f"({expr_to_sparql(node[1])} || {expr_to_sparql(node[2])})"
    if k == "and":
        return f"({expr_to_sparql(node[1])} && {expr_to_sparql(node[2])})"
    if k == "not":
        return f"(!{expr_to_sparql(node[1])})"
    if k == "bound":
        return f"BOUND(?{node[1]})"
    if k == "cmp":
        return (
            f"({expr_to_sparql(node[2])} {node[1]} {expr_to_sparql(node[3])})"
        )
    if k == "in":
        items = ", ".join(expr_to_sparql(a) for a in node[2])
        return f"({expr_to_sparql(node[1])} IN ({items}))"
    if k == "arith":
        return (
            f"({expr_to_sparql(node[2])} {node[1]} {expr_to_sparql(node[3])})"
        )
    if k == "neg":
        return f"(-{expr_to_sparql(node[1])})"
    if k == "tfunc":
        return f"{node[1]}(?{node[2]})"
    if k == "langmatches":
        return (
            f'LANGMATCHES({expr_to_sparql(node[1])}, "{_escape_str(node[2])}")'
        )
    if k == "sameterm":
        return (
            f"SAMETERM({expr_to_sparql(node[1])}, {expr_to_sparql(node[2])})"
        )
    if k == "sfunc":
        args = ", ".join(expr_to_sparql(a) for a in node[2])
        return f"{node[1]}({args})"
    if k in ("mathfunc", "dtfunc", "hashfunc"):
        return f"{node[1]}({expr_to_sparql(node[2])})"
    if k == "irifunc":
        return f"IRI({expr_to_sparql(node[1])})"
    if k == "strdt":
        return f"STRDT({expr_to_sparql(node[1])}, {node[2]})"
    if k == "strlang":
        return f'STRLANG({expr_to_sparql(node[1])}, "{_escape_str(node[2])}")'
    if k == "concat":
        return f"CONCAT({', '.join(expr_to_sparql(a) for a in node[1])})"
    if k == "coalesce":
        return f"COALESCE({', '.join(expr_to_sparql(a) for a in node[1])})"
    if k == "if":
        return (
            f"IF({expr_to_sparql(node[1])}, {expr_to_sparql(node[2])}, "
            f"{expr_to_sparql(node[3])})"
        )
    if k == "nfunc":
        return f"STRLEN({expr_to_sparql(node[2])})"
    if k == "acc":
        return f"{node[1]}(?{node[2]})"
    raise SparqlSyntaxError(
        f"expression {node!r} cannot be serialized into a SERVICE body"
    )


def service_query_text(
    group, bindings: tuple[list[str], list[tuple]] | None = None
) -> tuple[str, list[str]]:
    """Serialize a parsed service body back to a standalone SELECT.

    Supports triple blocks (optionally under ``GRAPH <uri>``), FILTER
    constraints (round-tripped through :func:`expr_to_sparql`, incl.
    ``[NOT] EXISTS`` sub-bodies), and nested OPTIONAL groups — the
    shapes real federated queries use. UNION/MINUS/BIND/VALUES/
    subqueries inside SERVICE raise loudly. Prefixed names were already
    resolved to full terms at parse time, so the generated query needs
    no prologue. ``bindings`` (shared variable names + local binding
    tuples, from :func:`local_bindings_for_bound_join`) are injected as
    a VALUES data block — the SPARQL 1.1 Fed §2.1 bound join. Returns
    (query text, variable names in projection order — pattern variables
    incl. OPTIONAL-introduced ones)."""
    from ontograph_spark.query.sparql import SparqlSyntaxError

    vars_: list[str] = []

    def slot(s) -> str:
        kind, val = s
        if kind == "var":
            if val not in vars_:
                vars_.append(val)
            return f"?{val}"
        return val

    def body(grp) -> str:
        if grp.minuses or grp.binds or grp.subqueries or grp.services:
            # MINUS and BIND apply at their textual position
            # (§18.2.2.6) in ways the rendered text cannot always
            # reproduce faithfully; nested SERVICE/subqueries stay
            # local by design
            raise SparqlSyntaxError(
                "SERVICE bodies support triple blocks, property paths, "
                "FILTER, OPTIONAL, UNION and VALUES (optionally under "
                "GRAPH <uri>/?var) — move MINUS/BIND/subqueries "
                "outside the SERVICE group"
            )
        parts: list[str] = []
        consumed = [0, 0, 0, 0, 0, 0]

        def emit_segment(cut) -> None:
            # render the freely-reorderable join elements between the
            # previous cut and this one, in place
            p_end, pa_end, v_end, s_end, u_end, q_end = cut
            by_graph: dict[tuple | None, list[str]] = {}
            for pat in grp.patterns[consumed[0] : p_end]:
                text = f"{slot(pat.s)} {slot(pat.p)} {slot(pat.o)} ."
                by_graph.setdefault(pat.g, []).append(text)
            for pp in grp.paths[consumed[1] : pa_end]:
                text = (
                    f"{slot(pp.s)} {path_to_sparql(pp.path)} {slot(pp.o)} ."
                )
                by_graph.setdefault(pp.g, []).append(text)
            for key, triples in by_graph.items():
                block = " ".join(triples)
                if key is None:
                    parts.append(block)
                elif key[0] == "term":
                    # graph slots carry the BARE uri for constants
                    parts.append(f"GRAPH <{key[1]}> {{ {block} }}")
                else:
                    parts.append(f"GRAPH {slot(key)} {{ {block} }}")
            for names, rows in grp.values[consumed[2] : v_end]:
                for n in names:
                    if n not in vars_:
                        vars_.append(n)
                parts.append(_values_block(names, rows))
            for branches in grp.unions[consumed[4] : u_end]:
                parts.append(
                    " UNION ".join(f"{{ {body(b)} }}" for b in branches)
                )
            consumed[:] = [p_end, pa_end, v_end, s_end, u_end, q_end]

        # OPTIONAL is a LeftJoin at its TEXTUAL position (§18.2.2.6):
        # replay the group's ordered event list so the shipped text
        # preserves which elements precede each OPTIONAL (serializing
        # all OPTIONALs last would change the answer whenever a later
        # pattern/UNION/VALUES shares variables with one)
        for kind, payload, cut in grp.events:
            if kind == "optional":
                emit_segment(cut)
                parts.append(f"OPTIONAL {{ {body(payload)} }}")
        from ontograph_spark.query.sparql import _group_cut

        emit_segment(_group_cut(grp))
        for fx in grp.filters:
            # FILTERs are group-scoped (§17.2) — position-free
            parts.append(f"FILTER({_filter_text(fx)})")
        return " ".join(parts)

    def _filter_text(fx) -> str:
        # [NOT] EXISTS carries a nested group — serialize it with the
        # same body writer (its variables stay local to the filter and
        # are NOT added to the projection, so collect into a throwaway)
        if fx[0] == "exists":
            return f"EXISTS {{ {_exists_body(fx[1])} }}"
        if fx[0] == "not" and isinstance(fx[1], tuple) and fx[1][0] == "exists":
            return f"NOT EXISTS {{ {_exists_body(fx[1][1])} }}"
        return expr_to_sparql(fx)

    def _exists_body(grp) -> str:
        outer = list(vars_)
        text = body(grp)
        del vars_[len(outer):]  # EXISTS vars don't join back
        return text

    if not (
        group.patterns or group.optionals or group.paths or group.unions
    ):
        raise SparqlSyntaxError(
            "SERVICE bodies need at least one triple or path pattern"
        )
    inner = body(group)
    if not vars_:
        # all-constant service pattern: probe existence, project nothing
        return f"ASK {{ {inner} }}", []
    if bindings is not None:
        names, rows = bindings
        inner += " " + _values_block(names, rows)
    return (
        f"SELECT {' '.join(f'?{v}' for v in vars_)} WHERE {{ {inner} }}",
        vars_,
    )


def fetch_service_bindings(
    endpoint_url: str, query: str, timeout: float = 30.0
) -> dict:
    """POST the query to the endpoint with the reference client's exact
    protocol (form-encoded, Accept sparql-results+json) and return the
    decoded result document."""
    import urllib.parse

    data = urllib.parse.urlencode({"query": query}).encode()
    req = urllib.request.Request(
        endpoint_url,
        data=data,
        headers={
            "Content-Type": "application/x-www-form-urlencoded",
            "Accept": "application/sparql-results+json",
        },
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode())


def service_solutions(
    spark,
    endpoint_url: str,
    group,
    silent: bool,
    bindings: tuple[list[str], list[tuple]] | None = None,
):
    """Evaluate a SERVICE group against a remote endpoint.

    Returns ``(rows, var_names, nullable_names)`` where rows are
    encoded-term tuples ready for ``createDataFrame`` — or ``None``:
    SILENT + failure (the spec's empty join identity), or an
    all-constant pattern that exists remotely (also join identity).
    Raises the transport/parse error when not SILENT. ``bindings``
    ships as a VALUES block (bound join) — the local join afterwards is
    unchanged, the injected block only shrinks what the endpoint
    returns."""
    from ontograph_spark.query.sparql import SparqlSyntaxError
    from ontograph_spark.store.sparql_store import binding_to_term

    check_service_allowed(endpoint_url)
    query, vars_ = service_query_text(group, bindings)
    try:
        doc = fetch_service_bindings(endpoint_url, query)
    except (urllib.error.URLError, OSError, ValueError) as e:
        if silent:
            return None
        raise SparqlSyntaxError(
            f"SERVICE <{endpoint_url}> failed: {e}"
        ) from e
    if not vars_:
        if doc.get("boolean"):
            return None  # exists ⇒ identity
        return ([], [], set())  # fails ⇒ empty solutions (kills the group)
    rows: list[tuple] = []
    nullable: set[str] = set()
    for b in doc.get("results", {}).get("bindings", []):
        row = []
        for v in vars_:
            cell = b.get(v)
            if cell is None:
                nullable.add(v)
                row.append(None)
            else:
                row.append(binding_to_term(cell))
        rows.append(tuple(row))
    return (rows, vars_, nullable)
