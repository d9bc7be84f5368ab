"""Round-3 SPARQL engine features.

* Reference parity, byte-for-byte: the four query forms the reference
  actually emits (blazegraph_store.go:53 SELECT with constant-filled
  slots, :294/:419 ``ASK WHERE``, :329 CONSTRUCT with ``FROM``, :398
  ``SELECT (COUNT(*) as ?n) FROM``) are transcribed verbatim and must
  answer correctly — not just the repo's own builder strings.
* Property paths (``+ * ? ^ / |``) compiled to iterative closure.
* General aggregates (SUM/AVG/MIN/MAX) with exact decimal partials.
* BIND / MINUS.
* Nested-OPTIONAL unbound-compatibility (SPARQL §leftjoin).
* Value-aware ORDER BY (numeric literals order numerically).
* PN_LOCAL trailing-dot tokenization ("?s a t:Klass." terminates).
* FILTER [NOT] EXISTS (top-level semi/anti join; nested boolean marker).
* HAVING, GROUP_CONCAT/SAMPLE, IN/NOT IN, type tests, COALESCE/IF.
* { SELECT … } subqueries and negated property sets !(iri|…).
"""

from __future__ import annotations

import pytest

from ontograph_spark.query import (
    SparqlSyntaxError,
    sparql_ask,
    sparql_construct,
    sparql_select,
)
from ontograph_spark.store import MemoryQuadStore
from ontograph_spark.terms import mk_literal, mk_resource

from test_store import GRAPH_URI, fixture_triples

U = GRAPH_URI


@pytest.fixture(scope="module")
def store(spark):
    s = MemoryQuadStore(spark, U)
    s.add_triples(fixture_triples(U))
    return s


@pytest.fixture(scope="module")
def chain(spark):
    """A 4-level subClassOf-style chain plus a side branch:
    a -> b -> c -> d, x -> c; one disconnected node via a label."""
    from ontograph_spark.ontology.resources import new_triple

    s = MemoryQuadStore(spark, "urn:chain")
    P = "urn:chain#sub"
    L = "urn:chain#label"
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "c")]
    triples = [
        new_triple(
            mk_resource(f"urn:chain#{s_}"),
            mk_resource(P),
            mk_resource(f"urn:chain#{o_}"),
        )
        for s_, o_ in edges
    ]
    triples.append(
        new_triple(
            mk_resource("urn:chain#lone"),
            mk_resource(L),
            mk_literal("lone", "", ""),
        )
    )
    s.add_triples(triples)
    return s


def _n(name: str) -> str:
    return f"<urn:chain#{name}>"


# ---------------------------------------------------------------------------
# reference-exact query strings
# ---------------------------------------------------------------------------


def test_reference_select_with_constant_slots(store):
    """blazegraph_store.go:53 — SELECT ?s ?p ?o with constants in the
    pattern slots; the fixed slots project as unbound (null) columns."""
    q = (
        f"SELECT ?s ?p ?o WHERE {{ GRAPH <{U}> "
        f"{{ <{U}#a> <{U}#rel-2> ?o. }} }}"
    )
    df = sparql_select(store.df(), q)
    assert df.columns == ["s", "p", "o"]
    assert [tuple(r) for r in df.collect()] == [(None, None, f"<{U}#b>")]


def test_reference_ask_where(store):
    """blazegraph_store.go:294,419 — ASK WHERE { GRAPH <g> { … } }."""
    q = f"ASK WHERE {{ GRAPH <{U}> {{ ?s ?p ?o }} }}"
    assert sparql_ask(store.df(), q) is True
    q2 = f"ASK WHERE {{ GRAPH <urn:absent> {{ ?s ?p ?o }} }}"
    assert sparql_ask(store.df(), q2) is False


def test_reference_construct_from(store):
    """blazegraph_store.go:329 — CONSTRUCT { ?s ?p ?o } FROM <g>."""
    q = f"CONSTRUCT {{ ?s ?p ?o }} FROM <{U}> WHERE {{  ?s ?p ?o . }}"
    out = sparql_construct(store.df(), q)
    assert out.columns == ["subj", "pred", "obj"]
    assert out.count() == 7


def test_reference_count_from_lowercase_as(store):
    """blazegraph_store.go:398 — SELECT (COUNT(*) as ?n) FROM <g>."""
    q = f"SELECT (COUNT(*) as ?n) FROM <{U}> WHERE {{ ?s ?p ?o }} "
    df = sparql_select(store.df(), q)
    assert df.columns == ["n"]
    assert df.collect()[0][0] == 7


def test_from_scopes_unscoped_patterns(spark, store):
    from ontograph_spark.ontology.resources import new_triple

    other = MemoryQuadStore(spark, "urn:other")
    other.add_triple(
        new_triple(
            mk_resource("urn:other#x"),
            mk_resource("urn:other#p"),
            mk_resource("urn:other#y"),
        )
    )
    both = store.df().unionByName(other.df())
    one = sparql_select(both, "SELECT ?s FROM <urn:other> WHERE { ?s ?p ?o }")
    assert [r[0] for r in one.collect()] == ["<urn:other#x>"]
    two = sparql_select(
        both,
        f"SELECT ?s FROM <urn:other> FROM <{U}> WHERE {{ ?s ?p ?o }}",
    )
    assert two.count() == 8


def test_pname_trailing_dot_terminates_triple(spark):
    """SPARQL PN_LOCAL forbids a final dot: '?s a t:Klass.' must parse
    the '.' as the triple terminator, not as part of the IRI."""
    from ontograph_spark import vocab
    from ontograph_spark.ontology.resources import new_triple

    s = MemoryQuadStore(spark, "urn:t")
    s.add_triple(
        new_triple(
            mk_resource("urn:t#i"),
            mk_resource(vocab.RDF_TYPE),
            mk_resource("urn:t#Klass"),
        )
    )
    q = "PREFIX t: <urn:t#> SELECT ?s WHERE { ?s a t:Klass. }"
    assert [r[0] for r in sparql_select(s.df(), q).collect()] == ["<urn:t#i>"]


# ---------------------------------------------------------------------------
# property paths
# ---------------------------------------------------------------------------


def test_path_plus_transitive(chain):
    q = "SELECT ?x ?y WHERE { ?x <urn:chain#sub>+ ?y }"
    rows = {tuple(r) for r in sparql_select(chain.df(), q).collect()}
    assert rows == {
        (_n("a"), _n("b")), (_n("a"), _n("c")), (_n("a"), _n("d")),
        (_n("b"), _n("c")), (_n("b"), _n("d")),
        (_n("c"), _n("d")),
        (_n("x"), _n("c")), (_n("x"), _n("d")),
    }


def test_path_plus_seeded_constant_subject(chain):
    q = f"SELECT ?y WHERE {{ {_n('a')} <urn:chain#sub>+ ?y }}"
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    assert rows == {_n("b"), _n("c"), _n("d")}


def test_path_star_includes_zero_length(chain):
    q = f"SELECT ?y WHERE {{ {_n('b')} <urn:chain#sub>* ?y }}"
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    assert rows == {_n("b"), _n("c"), _n("d")}


def test_path_plus_seeded_constant_object(chain):
    q = f"SELECT ?x WHERE {{ ?x <urn:chain#sub>+ {_n('c')} }}"
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    assert rows == {_n("a"), _n("b"), _n("x")}


def test_path_inverse(chain):
    q = f"SELECT ?x WHERE {{ {_n('c')} ^<urn:chain#sub> ?x }}"
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    assert rows == {_n("b"), _n("x")}


def test_path_sequence(chain):
    q = "SELECT ?x ?y WHERE { ?x <urn:chain#sub>/<urn:chain#sub> ?y }"
    rows = {tuple(r) for r in sparql_select(chain.df(), q).collect()}
    assert rows == {(_n("a"), _n("c")), (_n("b"), _n("d")), (_n("x"), _n("d"))}


def test_path_alternative(chain):
    q = "SELECT ?x WHERE { ?x <urn:chain#sub>|<urn:chain#label> ?o }"
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    assert rows == {_n("a"), _n("b"), _n("c"), _n("x"), _n("lone")}


def test_path_zeroone(chain):
    q = f"SELECT ?y WHERE {{ {_n('a')} <urn:chain#sub>? ?y }}"
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    assert rows == {_n("a"), _n("b")}


def test_path_grouped_sequence_closure(chain):
    """(p/p)+ from a: hops of exactly 2,4,… — a→c only (a→d is 3)."""
    q = (
        f"SELECT ?y WHERE {{ {_n('a')} "
        "(<urn:chain#sub>/<urn:chain#sub>)+ ?y }"
    )
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    assert rows == {_n("c")}


def test_path_joins_with_bgp(chain):
    """A path pattern participates in the BGP join like any scan."""
    q = (
        "SELECT ?x WHERE { ?x <urn:chain#sub>+ ?top . "
        f"?top <urn:chain#sub> {_n('d')} }}"
    )
    rows = {r[0] for r in sparql_select(chain.df(), q).collect()}
    # nodes that transitively reach c (which then steps to d)
    assert rows == {_n("a"), _n("b"), _n("x")}


def test_path_under_graph_var_binds_graph(chain):
    """GRAPH ?g over a closure path: the closure runs per graph (the
    edge relation carries the graph column through every join) and ?g
    binds alongside the endpoints."""
    q = "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <urn:chain#sub>+ ?y } }"
    rows = {tuple(r) for r in sparql_select(chain.df(), q).collect()}
    assert len(rows) == 8  # the full a/b/c/d/x closure, all in urn:chain
    assert {r[0] for r in rows} == {"<urn:chain>"}


def test_path_under_graph_var_scopes_per_graph(spark):
    """Two graphs with sub-chains a->b (g1) and b->c (g2): the per-graph
    closure must NOT derive a->c across graphs."""
    from ontograph_spark.ontology.resources import new_triple

    s1 = MemoryQuadStore(spark, "urn:pg1")
    s1.add_triple(
        new_triple(
            mk_resource("urn:pg#a"),
            mk_resource("urn:pg#sub"),
            mk_resource("urn:pg#b"),
        )
    )
    s2 = MemoryQuadStore(spark, "urn:pg2")
    s2.add_triple(
        new_triple(
            mk_resource("urn:pg#b"),
            mk_resource("urn:pg#sub"),
            mk_resource("urn:pg#c"),
        )
    )
    both = s1.df().unionByName(s2.df())
    q = "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <urn:pg#sub>+ ?y } }"
    rows = {tuple(r) for r in sparql_select(both, q).collect()}
    assert rows == {
        ("<urn:pg1>", "<urn:pg#a>", "<urn:pg#b>"),
        ("<urn:pg2>", "<urn:pg#b>", "<urn:pg#c>"),
    }
    # same data WITHOUT graph scoping: the union graph closes across
    rows = {
        tuple(r)
        for r in sparql_select(
            both, "SELECT ?x ?y WHERE { ?x <urn:pg#sub>+ ?y }"
        ).collect()
    }
    assert ("<urn:pg#a>", "<urn:pg#c>") in rows


# ---------------------------------------------------------------------------
# aggregates
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def nums(spark):
    from ontograph_spark.ontology.resources import new_triple

    xsd_dec = "http://www.w3.org/2001/XMLSchema#decimal"
    s = MemoryQuadStore(spark, "urn:nums")
    triples = []
    vals = {"a": [1.5, 2.5], "b": [10.0, 9.0, 1.0]}
    for grp, vs in vals.items():
        for i, v in enumerate(vs):
            triples.append(
                new_triple(
                    mk_resource(f"urn:nums#{grp}{i}"),
                    mk_resource("urn:nums#val"),
                    mk_literal(f"{v:f}", "", xsd_dec),
                )
            )
            triples.append(
                new_triple(
                    mk_resource(f"urn:nums#{grp}{i}"),
                    mk_resource("urn:nums#grp"),
                    mk_literal(grp, "", ""),
                )
            )
    s.add_triples(triples)
    return s


def test_sum_avg_min_max_grouped(nums):
    q = """
    SELECT ?g (SUM(?v) AS ?total) (AVG(?v) AS ?mean)
           (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) (COUNT(?v) AS ?n)
    WHERE { ?s <urn:nums#val> ?v ; <urn:nums#grp> ?g } GROUP BY ?g"""
    rows = {r["g"]: r for r in sparql_select(nums.df(), q).collect()}
    a, b = rows['"a"'], rows['"b"']
    assert (a["total"], a["mean"], a["lo"], a["hi"], a["n"]) == (4.0, 2.0, 1.5, 2.5, 2)
    assert (b["total"], b["mean"], b["lo"], b["hi"], b["n"]) == (20.0, 20.0 / 3, 1.0, 10.0, 3)


def test_sum_ungrouped_and_distinct(nums):
    q = "SELECT (SUM(?v) AS ?t) WHERE { ?s <urn:nums#val> ?v }"
    assert sparql_select(nums.df(), q).collect()[0][0] == 24.0
    q2 = "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s ?p ?o }"
    assert sparql_select(nums.df(), q2).collect()[0][0] == 5


def test_sum_skips_non_numeric(nums):
    """grp literals are non-numeric: SUM over them is null (skipped)."""
    q = "SELECT (SUM(?g) AS ?t) (COUNT(?g) AS ?n) WHERE { ?s <urn:nums#grp> ?g }"
    row = sparql_select(nums.df(), q).collect()[0]
    assert row["t"] is None and row["n"] == 5


def test_order_by_numeric_value(nums):
    q = """
    SELECT ?s ?v WHERE { ?s <urn:nums#val> ?v } ORDER BY ASC(?v) LIMIT 2"""
    rows = [r["s"] for r in sparql_select(nums.df(), q).collect()]
    # 1.0 (b2) then 1.5 (a0) — numeric, not lexicographic ("1.0" < "10")
    assert rows == ["<urn:nums#b2>", "<urn:nums#a0>"]
    q2 = "SELECT ?s ?v WHERE { ?s <urn:nums#val> ?v } ORDER BY DESC(?v) LIMIT 1"
    assert sparql_select(nums.df(), q2).collect()[0]["s"] == "<urn:nums#b0>"


def test_agg_errors(nums):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(nums.df(), "SELECT (SUM(*) AS ?t) WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlSyntaxError):
        sparql_select(nums.df(), "SELECT (SUM(?zz) AS ?t) WHERE { ?s ?p ?o }")


# ---------------------------------------------------------------------------
# BIND / MINUS
# ---------------------------------------------------------------------------


def test_bind_var_and_accessor(store):
    q = f"""
    SELECT ?s ?val WHERE {{
        ?s <{U}#rel-3> ?o
        BIND(STR(?o) AS ?val)
    }}"""
    rows = [tuple(r) for r in sparql_select(store.df(), q).collect()]
    assert rows == [(f"<{U}#c>", '"lit1"')]


def test_bind_concat_and_join(store):
    q = f"""
    SELECT ?tag WHERE {{
        ?s <{U}#rel-4> ?o
        BIND(CONCAT(STR(?o), "-", LANG(?o)) AS ?tag)
    }}"""
    assert [r[0] for r in sparql_select(store.df(), q).collect()] == ['"lit2-de"']


def test_bind_datatype_is_iri(store):
    q = f"""
    SELECT ?dt WHERE {{
        ?s <{U}#rel-5> ?o
        BIND(DATATYPE(?o) AS ?dt)
    }}"""
    assert [r[0] for r in sparql_select(store.df(), q).collect()] == [
        f"<{U}#datatype>"
    ]


def test_bind_numeric_overflow_falls_to_decimal(store):
    """A numeric BIND result outside BIGINT range must not abort the
    query with ANSI CAST_OVERFLOW: the integer re-encoding try_casts and
    falls back to the decimal encoding of the double. Same guard for the
    integral-by-construction CEIL branch."""
    q = f"""
    SELECT ?y WHERE {{
        ?s <{U}#rel-3> ?o
        BIND("1e30"^^<http://www.w3.org/2001/XMLSchema#double> + 0 AS ?y)
    }}"""
    vals = [r[0] for r in sparql_select(store.df(), q).collect()]
    assert vals == ['"1.0E30"^^<http://www.w3.org/2001/XMLSchema#decimal>']
    q2 = f"""
    SELECT ?y WHERE {{
        ?s <{U}#rel-3> ?o
        BIND(CEIL("1e30"^^<http://www.w3.org/2001/XMLSchema#double>) AS ?y)
    }}"""
    vals2 = [r[0] for r in sparql_select(store.df(), q2).collect()]
    assert vals2 == ['"1.0E30"^^<http://www.w3.org/2001/XMLSchema#decimal>']


def test_bind_reassign_raises(store):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            store.df(), "SELECT ?o WHERE { ?s ?p ?o BIND(?s AS ?o) }"
        )


def test_minus_removes_shared_solutions(store):
    """Subjects with any triple, minus those with a rel-2 edge."""
    q = f"""
    SELECT DISTINCT ?s WHERE {{
        ?s ?p ?o
        MINUS {{ ?s <{U}#rel-2> ?z }}
    }}"""
    rows = {r[0] for r in sparql_select(store.df(), q).collect()}
    assert rows == {f"<{U}>", f"<{U}#c>"}


def test_minus_disjoint_removes_nothing(store):
    """SPARQL §8.3: a MINUS group sharing no variable removes nothing."""
    q = f"""
    SELECT DISTINCT ?s WHERE {{
        ?s <{U}#rel-1> ?o
        MINUS {{ ?a <{U}#rel-2> ?b }}
    }}"""
    assert sparql_select(store.df(), q).count() == 1


# ---------------------------------------------------------------------------
# nested-OPTIONAL unbound compatibility
# ---------------------------------------------------------------------------


def test_nested_optional_unbound_is_compatible(spark):
    """SPARQL §leftjoin: a solution with ?z unbound is compatible with
    every ?z binding of the next OPTIONAL — the merge takes the bound
    value (previously these solutions silently dropped)."""
    from ontograph_spark.ontology.resources import new_triple

    s = MemoryQuadStore(spark, "urn:no")
    t = lambda a, p, b: new_triple(  # noqa: E731
        mk_resource(f"urn:no#{a}"), mk_resource(f"urn:no#{p}"), mk_resource(f"urn:no#{b}")
    )
    s.add_triples(
        [
            t("a1", "p", "b1"),
            t("b1", "q", "c1"),
            t("a2", "p", "b2"),  # no q edge: ?z unbound for a2
            t("c1", "r", "d1"),
            t("cX", "r", "d2"),
        ]
    )
    q = """
    SELECT ?x ?z ?w WHERE {
        ?x <urn:no#p> ?y
        OPTIONAL { ?y <urn:no#q> ?z }
        OPTIONAL { ?z <urn:no#r> ?w }
    }"""
    rows = {tuple(r) for r in sparql_select(s.df(), q).collect()}
    assert rows == {
        ("<urn:no#a1>", "<urn:no#c1>", "<urn:no#d1>"),
        ("<urn:no#a2>", "<urn:no#c1>", "<urn:no#d1>"),
        ("<urn:no#a2>", "<urn:no#cX>", "<urn:no#d2>"),
    }


def test_values_single_var(store):
    q = f"""
    SELECT ?s ?o WHERE {{
        ?s ?p ?o
        VALUES ?o {{ "lit1" "lit2"@de }}
    }}"""
    rows = {tuple(r) for r in sparql_select(store.df(), q).collect()}
    assert rows == {(f"<{U}#c>", '"lit1"'), (f"<{U}#c>", '"lit2"@de')}


def test_values_multi_var_with_undef(store):
    """An UNDEF cell is unbound: compatible with every binding of that
    variable (the row constrains only its bound cells)."""
    q = f"""
    SELECT ?s ?o WHERE {{
        ?s <{U}#rel-1> ?o
        VALUES (?s ?o) {{ (<{U}> <{U}#a>) (UNDEF <{U}#b>) }}
    }}"""
    rows = {tuple(r) for r in sparql_select(store.df(), q).collect()}
    assert rows == {(f"<{U}>", f"<{U}#a>"), (f"<{U}>", f"<{U}#b>")}


def test_values_only_group(store):
    q = 'SELECT ?x WHERE { VALUES ?x { "a" "b" } }'
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {'"a"', '"b"'}


def test_values_errors(store):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            store.df(),
            "SELECT ?a WHERE { VALUES (?a ?b) { (<urn:x>) } }",  # row width
        )


def test_two_exists_probes_keep_marker(store):
    """Two all-constant patterns must not drop both marker columns."""
    q = f"""
    SELECT * WHERE {{
        <{U}> <{U}#rel-1> <{U}#a> .
        <{U}#a> <{U}#rel-2> <{U}#b> .
    }}"""
    df = sparql_select(store.df(), q)
    assert df.columns == ["__exists__"]
    assert df.count() == 1


# ---------------------------------------------------------------------------
# FILTER [NOT] EXISTS
# ---------------------------------------------------------------------------


def test_exists_keeps_matching_solutions(store):
    q = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        FILTER EXISTS {{ ?o <{U}#rel-2> ?x }}
    }}"""
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {f"<{U}#a>"}


def test_not_exists_drops_matching_solutions(store):
    q = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        FILTER NOT EXISTS {{ ?o <{U}#rel-2> ?x }}
    }}"""
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {
        f"<{U}#b>",
        f"<{U}#c>",
    }


def test_exists_with_inner_filter(store):
    """The inner group is a full group — its own FILTERs apply."""
    q = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        FILTER NOT EXISTS {{ ?o ?p ?v . FILTER(STR(?v) = "lit1") }}
    }}"""
    # only c has a rel-3 "lit1" edge
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {
        f"<{U}#a>",
        f"<{U}#b>",
    }


def test_exists_no_shared_vars_is_global_probe(store):
    q = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        FILTER EXISTS {{ ?s <{U}#rel-9> ?x }}
    }}"""
    assert sparql_select(store.df(), q).count() == 0
    q2 = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        FILTER EXISTS {{ ?s <{U}#rel-2> ?x }}
    }}"""
    assert sparql_select(store.df(), q2).count() == 3


def test_exists_nested_in_boolean(store):
    q = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        FILTER(EXISTS {{ ?o <{U}#rel-2> ?x }} || ?o = <{U}#b>)
    }}"""
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {
        f"<{U}#a>",
        f"<{U}#b>",
    }


def test_exists_nested_unbound_shared_var(spark):
    """EXISTS nested in a disjunction over a possibly-unbound shared
    variable: substitution semantics — a bound ?x constrains the inner
    pattern, an unbound ?x leaves it free (matches anything). The
    marker compiles to a semi/anti bag partition under the null-
    tolerant compatibility condition, preserving cardinality."""
    rows = [
        ("<u:a>", "<u:p>", "<u:o1>", "g"),
        ("<u:a>", "<u:p>", "<u:o2>", "g"),
        ("<u:a>", "<u:p>", "<u:o3>", "g"),
        ("<u:a>", "<u:p>", "<u:o4>", "g"),
        ("<u:o1>", "<u:q>", "<u:v1>", "g"),  # x=v1 for o1
        ("<u:o2>", "<u:q>", "<u:v2>", "g"),  # x=v2 for o2
        ("<u:o4>", "<u:q>", "<u:v2>", "g"),  # x=v2 for o4
        ("<u:m>", "<u:r>", "<u:v1>", "g"),  # EXISTS target: only v1
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    q = """SELECT ?o WHERE {
        <u:a> <u:p> ?o .
        OPTIONAL { ?o <u:q> ?x }
        FILTER(EXISTS { ?y <u:r> ?x } || ?o = <u:o4>)
    }"""
    got = sorted(r[0] for r in sparql_select(df, q).collect())
    # o1: x=v1 ⇒ EXISTS true. o2: x=v2 ⇒ false, disjunct false ⇒ drop.
    # o3: x unbound ⇒ inner pattern free ⇒ true. o4: x=v2 ⇒ EXISTS
    # false but the ?o = <u:o4> disjunct keeps it.
    assert got == ["<u:o1>", "<u:o3>", "<u:o4>"]


def test_bare_not_exists_is_top_level_anti_join(store):
    """FILTER(!EXISTS{…}) ≡ FILTER NOT EXISTS{…} — handled by the
    null-tolerant anti join even with a possibly-unbound shared var."""
    q = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        OPTIONAL {{ ?o <{U}#rel-2> ?x }}
        FILTER(!EXISTS {{ ?y <{U}#rel-2> ?x }})
    }}"""
    assert sparql_select(store.df(), q).count() == 0


def test_not_exists_unbound_shared_var_top_level(store):
    """Top-level NOT EXISTS with a possibly-unbound shared var uses the
    null-tolerant anti join: unbound matches anything ⇒ dropped when the
    inner group is non-empty."""
    q = f"""SELECT ?o WHERE {{
        <{U}> <{U}#rel-1> ?o .
        OPTIONAL {{ ?o <{U}#rel-2> ?x }}
        FILTER NOT EXISTS {{ ?y <{U}#rel-2> ?x }}
    }}"""
    # a binds ?x=b (inner match: a rel-2 b ⇒ dropped); b and c leave ?x
    # unbound ⇒ compatible with the inner solution ⇒ also dropped
    assert sparql_select(store.df(), q).count() == 0


# ---------------------------------------------------------------------------
# HAVING / GROUP_CONCAT / SAMPLE
# ---------------------------------------------------------------------------


def test_having_on_count(nums):
    q = """SELECT ?g (COUNT(?v) AS ?n)
    WHERE { ?s <urn:nums#val> ?v ; <urn:nums#grp> ?g }
    GROUP BY ?g HAVING (COUNT(?v) >= 3)"""
    rows = sparql_select(nums.df(), q).collect()
    assert [(r["g"], r["n"]) for r in rows] == [('"b"', 3)]


def test_having_on_avg_not_projected(nums):
    """The HAVING aggregate need not appear in the projection."""
    q = """SELECT ?g
    WHERE { ?s <urn:nums#val> ?v ; <urn:nums#grp> ?g }
    GROUP BY ?g HAVING (AVG(?v) < 5)"""
    rows = sparql_select(nums.df(), q).collect()
    assert [r["g"] for r in rows] == ['"a"']
    # and the hidden aggregate column is dropped from the output
    assert sparql_select(nums.df(), q).columns == ["g"]


def test_group_concat_sorted_with_separator(nums):
    q = """SELECT ?g (GROUP_CONCAT(?v; SEPARATOR=",") AS ?vs)
    WHERE { ?s <urn:nums#val> ?v ; <urn:nums#grp> ?g } GROUP BY ?g"""
    rows = {r["g"]: r["vs"] for r in sparql_select(nums.df(), q).collect()}
    assert rows['"a"'] == "1.500000,2.500000"
    # lexicographic sort of the values (deterministic, documented)
    assert rows['"b"'] == "1.000000,10.000000,9.000000"


def test_group_concat_skips_unbound(store):
    """OPTIONAL-unbound operands are ignored by aggregates (SPARQL
    error-value rule) — not concatenated as empty strings."""
    q = f"""SELECT (GROUP_CONCAT(?lit; SEPARATOR="|") AS ?ls) WHERE {{
        <{U}> <{U}#rel-1> ?o .
        OPTIONAL {{ ?o <{U}#rel-3> ?lit }}
    }}"""
    # rel-3 exists on none of a/b/c — wait: rel-3 is on c
    rows = sparql_select(store.df(), q).collect()
    assert rows[0]["ls"] == "lit1"


def test_sample_is_deterministic_min(nums):
    q = """SELECT ?g (SAMPLE(?v) AS ?one)
    WHERE { ?s <urn:nums#val> ?v ; <urn:nums#grp> ?g } GROUP BY ?g"""
    rows = {r["g"]: r["one"] for r in sparql_select(nums.df(), q).collect()}
    xsd = "http://www.w3.org/2001/XMLSchema#decimal"
    assert rows['"a"'] == f'"1.500000"^^<{xsd}>'
    assert rows['"b"'] == f'"1.000000"^^<{xsd}>'


def test_group_concat_needs_separator_string(nums):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            nums.df(),
            "SELECT (GROUP_CONCAT(?v; SEPARATOR=?x) AS ?c) "
            "WHERE { ?s <urn:nums#val> ?v }",
        )


# ---------------------------------------------------------------------------
# IN / type tests / COALESCE / IF
# ---------------------------------------------------------------------------


def test_filter_in_and_not_in(store):
    q = f"""SELECT ?o WHERE {{ <{U}> <{U}#rel-1> ?o .
        FILTER(?o IN (<{U}#a>, <{U}#b>)) }}"""
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {
        f"<{U}#a>",
        f"<{U}#b>",
    }
    q = f"""SELECT ?o WHERE {{ <{U}> <{U}#rel-1> ?o .
        FILTER(?o NOT IN (<{U}#a>, <{U}#b>)) }}"""
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {f"<{U}#c>"}


@pytest.mark.parametrize(
    "flt, keeps_c",
    [
        ('?l != "x"', True),
        ('?l NOT IN ("x")', True),
        ('STR(?l) = ""', False),
        ('LANG(?l) = ""', True),
    ],
)
def test_optional_unbound_operand_is_a_type_error(store, flt, keeps_c):
    """An OPTIONAL-unbound operand errs like a never-bound one (§17.2):
    only <c>, whose ?l is bound to "lit1", can pass; the unbound ?l of
    <a> and <b> used to read as "", so ``!=`` and ``= ""`` kept them."""
    q = f"""SELECT ?o WHERE {{ <{U}> <{U}#rel-1> ?o .
        OPTIONAL {{ ?o <{U}#rel-3> ?l }} FILTER({flt}) }}"""
    want = {f"<{U}#c>"} if keeps_c else set()
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == want


def test_filter_type_tests(store):
    base = f"SELECT ?o WHERE {{ ?s ?p ?o . FILTER(%s(?o)) }}"
    iri = sparql_select(store.df(), base % "isIRI").count()
    uri = sparql_select(store.df(), base % "isURI").count()
    lit = sparql_select(store.df(), base % "isLiteral").count()
    blank = sparql_select(store.df(), base % "isBlank").count()
    assert iri == uri == 4  # a,b,c targets of rel-1 + b target of rel-2
    assert lit == 3  # lit1, lit2@de, lit3^^dt
    assert blank == 0


def test_filter_is_numeric(nums):
    q = "SELECT ?o WHERE { ?s <urn:nums#val> ?o . FILTER(isNumeric(?o)) }"
    assert sparql_select(nums.df(), q).count() == 5
    q = "SELECT ?o WHERE { ?s <urn:nums#grp> ?o . FILTER(isNumeric(?o)) }"
    assert sparql_select(nums.df(), q).count() == 0


def test_bind_coalesce_and_if(store):
    q = f"""SELECT ?o ?flag ?fb WHERE {{
        <{U}> <{U}#rel-1> ?o .
        OPTIONAL {{ ?o <{U}#rel-2> ?x }}
        BIND(IF(BOUND(?x), "linked", "bare") AS ?flag)
        BIND(COALESCE(?x, <{U}#none>) AS ?fb)
    }}"""
    rows = {r["o"]: (r["flag"], r["fb"]) for r in sparql_select(store.df(), q).collect()}
    assert rows[f"<{U}#a>"] == ('"linked"', f"<{U}#b>")
    assert rows[f"<{U}#b>"] == ('"bare"', f"<{U}#none>")
    assert rows[f"<{U}#c>"] == ('"bare"', f"<{U}#none>")


# ---------------------------------------------------------------------------
# subqueries
# ---------------------------------------------------------------------------


def test_subquery_joins_on_projected_vars(nums):
    q = """SELECT ?s ?mx WHERE {
        ?s <urn:nums#grp> ?g .
        { SELECT ?g (MAX(?v) AS ?mx) WHERE {
            ?t <urn:nums#val> ?v ; <urn:nums#grp> ?g } GROUP BY ?g }
    }"""
    rows = {r["s"]: r["mx"] for r in sparql_select(nums.df(), q).collect()}
    assert rows["<urn:nums#a0>"] == rows["<urn:nums#a1>"] == 2.5
    assert rows["<urn:nums#b0>"] == 10.0


def test_subquery_without_shared_vars_cross_joins(nums):
    q = """SELECT ?g ?total WHERE {
        ?s <urn:nums#grp> ?g .
        { SELECT (SUM(?v) AS ?total) WHERE { ?t <urn:nums#val> ?v } }
    }"""
    rows = sparql_select(nums.df(), q).collect()
    assert len(rows) == 5
    assert all(r["total"] == 24.0 for r in rows)


def test_subquery_limit_applies_inside(nums):
    q = """SELECT ?v WHERE {
        { SELECT ?v WHERE { ?s <urn:nums#val> ?v } ORDER BY ?v LIMIT 2 }
    }"""
    got = sorted(r[0] for r in sparql_select(nums.df(), q).collect())
    xsd = "http://www.w3.org/2001/XMLSchema#decimal"
    assert got == [f'"1.000000"^^<{xsd}>', f'"1.500000"^^<{xsd}>']


def test_subquery_must_be_select(store):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            store.df(),
            "SELECT ?s WHERE { { ASK { ?s ?p ?o } } }",
        )


def _unbound_alias_df(spark):
    return spark.createDataFrame(
        [("<u:s>", "<u:p>", "<u:o>", "g"), ("<u:s>", "<u:q>", '"k"', "g")],
        "subj string, pred string, obj string, graph string",
    )


@pytest.mark.parametrize(
    "expr",
    ["STR(?never)", "(?o + 1)"],  # never-bound; a type error on an IRI
)
def test_subquery_unbound_select_expression_stays_compatible(spark, expr):
    """A SELECT-expression alias that evaluates to an error is unbound
    (§18.2.1 Extend); the parent's join on it keeps the row under the
    compatibility rule instead of equi-joining on NULL."""
    q = f"""SELECT ?s ?o ?x WHERE {{
        ?s <u:q> ?x .
        {{ SELECT ?o ({expr} AS ?x) WHERE {{ ?t <u:p> ?o }} }}
    }}"""
    got = [tuple(r) for r in sparql_select(_unbound_alias_df(spark), q).collect()]
    assert got == [("<u:s>", "<u:o>", '"k"')]


def test_subquery_unbound_group_key_stays_compatible(spark):
    """The same rule for a computed ``GROUP BY (expr AS ?v)`` key."""
    q = """SELECT ?s ?x ?n WHERE {
        ?s <u:q> ?x .
        { SELECT ?x (COUNT(*) AS ?n) WHERE { ?t <u:p> ?o }
          GROUP BY (STR(?never) AS ?x) }
    }"""
    got = [tuple(r) for r in sparql_select(_unbound_alias_df(spark), q).collect()]
    assert got == [("<u:s>", '"k"', 1)]


# ---------------------------------------------------------------------------
# negated property sets
# ---------------------------------------------------------------------------


def test_negated_single_member(chain):
    q = "SELECT ?s ?o WHERE { ?s !<urn:chain#label> ?o }"
    assert sparql_select(chain.df(), q).count() == 4  # the sub edges


def test_negated_set(chain):
    q = "SELECT ?s ?o WHERE { ?s !(<urn:chain#sub>|<urn:chain#other>) ?o }"
    rows = sparql_select(chain.df(), q).collect()
    assert [(r["s"], r["o"]) for r in rows] == [("<urn:chain#lone>", '"lone"')]


def test_negated_inverse_member(chain):
    """!(^sub): pairs (x,y) with y p x for p not in {sub} — only the
    label edge reversed (SPARQL 1.1 9.1 inverse-member semantics)."""
    q = "SELECT ?s ?o WHERE { ?s !(^<urn:chain#sub>) ?o }"
    rows = {tuple(r) for r in sparql_select(chain.df(), q).collect()}
    assert rows == {('"lone"', "<urn:chain#lone>")}


def test_negated_mixed_members(chain):
    """!(label|^sub): forward edges not labelled (the sub edges) union
    reversed edges not sub-typed (the reversed label edge)."""
    q = "SELECT ?s ?o WHERE { ?s !(<urn:chain#label>|^<urn:chain#sub>) ?o }"
    rows = {tuple(r) for r in sparql_select(chain.df(), q).collect()}
    assert rows == {
        (_n("a"), _n("b")), (_n("b"), _n("c")),
        (_n("c"), _n("d")), (_n("x"), _n("c")),
        ('"lone"', "<urn:chain#lone>"),
    }


# ---------------------------------------------------------------------------
# string builtins
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def names(spark):
    from ontograph_spark.ontology.resources import new_triple

    s = MemoryQuadStore(spark, "urn:names")
    for ent, name in (("a", "Alpha Corp"), ("b", "beta llc"), ("c", "Gamma-Beta Inc")):
        s.add_triple(
            new_triple(
                mk_resource(f"urn:names#{ent}"),
                mk_resource("urn:names#name"),
                mk_literal(name, "", ""),
            )
        )
    return s


def _q(store, text):
    return sorted(tuple(r) for r in sparql_select(store.df(), text).collect())


def test_strlen_filter_and_bind(names):
    got = _q(names, "SELECT ?x WHERE { ?x <urn:names#name> ?n . FILTER(STRLEN(?n) > 9) }")
    assert got == [("<urn:names#a>",), ("<urn:names#c>",)]
    got = _q(
        names,
        "SELECT ?l WHERE { <urn:names#b> <urn:names#name> ?n . BIND(STRLEN(?n) AS ?l) }",
    )
    assert got == [('"8"^^<http://www.w3.org/2001/XMLSchema#integer>',)]


def test_strends(names):
    got = _q(names, 'SELECT ?x WHERE { ?x <urn:names#name> ?n . FILTER(STRENDS(?n, "llc")) }')
    assert got == [("<urn:names#b>",)]


def test_ucase_lcase_compose_with_contains(names):
    got = _q(
        names,
        'SELECT ?x WHERE { ?x <urn:names#name> ?n . FILTER(CONTAINS(UCASE(?n), "BETA")) }',
    )
    assert got == [("<urn:names#b>",), ("<urn:names#c>",)]
    got = _q(
        names,
        'SELECT ?x WHERE { ?x <urn:names#name> ?n . FILTER(UCASE(SUBSTR(?n, 1, 1)) = "B") }',
    )
    assert got == [("<urn:names#b>",)]


def test_substr_and_replace_in_bind(names):
    got = _q(
        names,
        'SELECT ?s WHERE { <urn:names#a> <urn:names#name> ?n . BIND(SUBSTR(?n, 1, 4) AS ?s) }',
    )
    assert got == [('"Alph"',)]
    got = _q(
        names,
        'SELECT ?r WHERE { <urn:names#b> <urn:names#name> ?n . '
        'BIND(REPLACE(?n, "[aeiou]", "_") AS ?r) }',
    )
    assert got == [('"b_t_ llc"',)]


def test_strbefore_strafter(names):
    got = _q(
        names,
        'SELECT ?b ?a WHERE { <urn:names#c> <urn:names#name> ?n . '
        'BIND(STRBEFORE(?n, "-") AS ?b) BIND(STRAFTER(?n, "-") AS ?a) }',
    )
    assert got == [('"Gamma"', '"Beta Inc"')]
    # absent needle: both return "" (SPARQL 17.4.3.12/13)
    got = _q(
        names,
        'SELECT ?b ?a WHERE { <urn:names#a> <urn:names#name> ?n . '
        'BIND(STRBEFORE(?n, "-") AS ?b) BIND(STRAFTER(?n, "-") AS ?a) }',
    )
    assert got == [('""', '""')]


def test_string_builtin_arg_errors(names):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            names.df(),
            "SELECT ?x WHERE { ?x <urn:names#name> ?n . FILTER(SUBSTR(?n) > 1) }",
        )
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            names.df(),
            'SELECT ?x WHERE { ?x <urn:names#name> ?n . FILTER(STRENDS(?n, ?n)) }',
        )


# ---------------------------------------------------------------------------
# DESCRIBE
# ---------------------------------------------------------------------------


def test_describe_constant(store):
    from ontograph_spark.query import sparql_describe

    out = sparql_describe(store.df(), f"DESCRIBE <{U}#c>")
    assert out.columns == ["subj", "pred", "obj"]
    rows = {tuple(r) for r in out.collect()}
    assert rows == {
        (f"<{U}#c>", f"<{U}#rel-3>", '"lit1"'),
        (f"<{U}#c>", f"<{U}#rel-4>", '"lit2"@de'),
        (f"<{U}#c>", f"<{U}#rel-5>", f'"lit3"^^<{U}#datatype>'),
    }


def test_describe_var_where(store):
    from ontograph_spark.query import sparql_describe

    out = sparql_describe(
        store.df(), f"DESCRIBE ?x WHERE {{ <{U}> <{U}#rel-1> ?x }}"
    )
    # a/b/c described: a has one triple, b none as subject, c three
    assert {r["subj"] for r in out.collect()} == {f"<{U}#a>", f"<{U}#c>"}
    assert out.count() == 4


def test_describe_mixed_and_distinct(store):
    from ontograph_spark.query import sparql_describe

    # <U#a> arrives via the constant AND the WHERE binding — no dupes
    out = sparql_describe(
        store.df(),
        f"DESCRIBE <{U}#a> ?x WHERE {{ <{U}> <{U}#rel-1> ?x }}",
    )
    assert out.count() == 4


def test_describe_var_without_where_raises(store):
    from ontograph_spark.query import sparql_describe

    with pytest.raises(SparqlSyntaxError):
        sparql_describe(store.df(), "DESCRIBE ?x")


def test_describe_wrong_entry_point(store):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(store.df(), f"DESCRIBE <{U}#c>")


# ---------------------------------------------------------------------------
# FROM NAMED
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def two_graphs(spark):
    from ontograph_spark.ontology.resources import new_triple

    def edge(graph, s, o):
        st = MemoryQuadStore(spark, graph)
        st.add_triple(
            new_triple(
                mk_resource(s), mk_resource("urn:fn#p"), mk_resource(o)
            )
        )
        return st.df()

    return edge("urn:fn1", "urn:fn#a", "urn:fn#b").unionByName(
        edge("urn:fn2", "urn:fn#c", "urn:fn#d")
    )


def test_from_named_scopes_graph_var(two_graphs):
    q = "SELECT ?g ?s FROM NAMED <urn:fn1> WHERE { GRAPH ?g { ?s ?p ?o } }"
    rows = {tuple(r) for r in sparql_select(two_graphs, q).collect()}
    assert rows == {("<urn:fn1>", "<urn:fn#a>")}


def test_from_named_scopes_graph_term(two_graphs):
    q = "SELECT ?s FROM NAMED <urn:fn1> WHERE { GRAPH <urn:fn2> { ?s ?p ?o } }"
    assert sparql_select(two_graphs, q).count() == 0
    q = "SELECT ?s FROM NAMED <urn:fn1> WHERE { GRAPH <urn:fn1> { ?s ?p ?o } }"
    assert sparql_select(two_graphs, q).count() == 1


def test_from_only_makes_graph_blocks_empty(two_graphs):
    """SPARQL §13.2: a dataset described with FROM only has NO named
    graphs — GRAPH matches nothing, the default graph still answers."""
    q = "SELECT ?g ?s FROM <urn:fn1> WHERE { GRAPH ?g { ?s ?p ?o } }"
    assert sparql_select(two_graphs, q).count() == 0
    q = "SELECT ?s FROM <urn:fn1> WHERE { ?s ?p ?o }"
    assert sparql_select(two_graphs, q).count() == 1


def test_from_named_only_empties_default_graph(two_graphs):
    q = "SELECT ?s FROM NAMED <urn:fn1> WHERE { ?s ?p ?o }"
    assert sparql_select(two_graphs, q).count() == 0


def test_from_and_from_named_combine(two_graphs):
    q = (
        "SELECT ?s ?t FROM <urn:fn1> FROM NAMED <urn:fn2> WHERE { "
        "?s ?p ?o . GRAPH <urn:fn2> { ?t ?q ?u } }"
    )
    rows = {tuple(r) for r in sparql_select(two_graphs, q).collect()}
    assert rows == {("<urn:fn#a>", "<urn:fn#c>")}


# ---------------------------------------------------------------------------
# query-side blank nodes
# ---------------------------------------------------------------------------


def test_blank_node_is_anonymous_variable(store):
    """_:x joins like a variable within the query but never projects."""
    q = f"SELECT * WHERE {{ <{U}> <{U}#rel-1> _:x . _:x <{U}#rel-2> ?o }}"
    df = sparql_select(store.df(), q)
    assert df.columns == ["o"]
    assert [r[0] for r in df.collect()] == [f"<{U}#b>"]


def test_anon_blank_nodes_are_distinct(store):
    """Two [] tokens are DIFFERENT anonymous variables."""
    q = f"SELECT ?s WHERE {{ ?s <{U}#rel-1> [] . ?s <{U}#rel-1> [] }}"
    # joins don't constrain the two objects to be equal: s = <U> (3 objs)
    assert {r[0] for r in sparql_select(store.df(), q).collect()} == {f"<{U}>"}


def test_blank_node_only_pattern_still_answers(store):
    q = f"SELECT ?s WHERE {{ ?s <{U}#rel-3> _:v }}"
    assert [r[0] for r in sparql_select(store.df(), q).collect()] == [f"<{U}#c>"]


def test_blank_node_count_keeps_bag_semantics(store):
    q = f"SELECT (COUNT(*) AS ?n) WHERE {{ <{U}> <{U}#rel-1> _:o }}"
    assert sparql_select(store.df(), q).collect()[0][0] == 3


def test_blank_property_list_as_object(store):
    """?s p [ q ?o ]: the bracket is a fresh anonymous node whose
    triples join into the same group."""
    q = f"SELECT ?o WHERE {{ <{U}> <{U}#rel-1> [ <{U}#rel-2> ?o ] }}"
    # only <U#a> (an object of rel-1) has a rel-2 edge → b
    assert [r[0] for r in sparql_select(store.df(), q).collect()] == [f"<{U}#b>"]


def test_blank_property_list_standalone_and_multi(store):
    q = f"SELECT ?x WHERE {{ [ <{U}#rel-3> ?x ; <{U}#rel-4> ?y ] . }}"
    assert [r[0] for r in sparql_select(store.df(), q).collect()] == ['"lit1"']


def test_select_expression_projection(names):
    q = (
        "SELECT ?x (STRLEN(?n) AS ?l) (UCASE(?n) AS ?u) WHERE "
        "{ ?x <urn:names#name> ?n } ORDER BY ?x LIMIT 1"
    )
    df = sparql_select(names.df(), q)
    assert df.columns == ["x", "l", "u"]
    r = df.collect()[0]
    assert (r["x"], r["l"], r["u"]) == (
        "<urn:names#a>",
        '"10"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"ALPHA CORP"',
    )


def test_select_expression_with_group_by_raises(names):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            names.df(),
            "SELECT (UCASE(?n) AS ?u) (COUNT(?x) AS ?c) WHERE "
            "{ ?x <urn:names#name> ?n } GROUP BY ?n",
        )


def test_select_expression_rebind_raises(names):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            names.df(),
            "SELECT (UCASE(?n) AS ?n) WHERE { ?x <urn:names#name> ?n }",
        )


# ---------------------------------------------------------------------------
# review regressions: scoping, MINUS compat, IN, COUNT(DISTINCT *)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def scoped(spark):
    """s1 typed in g1, s2 typed in g2; s1 has p->v1 in g1; a q->v1 in g1."""
    from ontograph_spark.ontology.resources import new_triple

    def store(graph, triples):
        s = MemoryQuadStore(spark, graph)
        s.add_triples(
            [
                new_triple(mk_resource(a), mk_resource(b), mk_resource(c))
                for a, b, c in triples
            ]
        )
        return s.df()

    g1 = store(
        "urn:sg1",
        [
            ("urn:sc#s1", "urn:sc#type", "urn:sc#T"),
            ("urn:sc#s1", "urn:sc#p", "urn:sc#v1"),
            ("urn:sc#a", "urn:sc#q", "urn:sc#v1"),
        ],
    )
    g2 = store("urn:sg2", [("urn:sc#s2", "urn:sc#type", "urn:sc#T")])
    return g1.unionByName(g2)


def test_subquery_inherits_graph_scope(scoped):
    q = """SELECT ?s WHERE { GRAPH <urn:sg1> {
        { SELECT ?s WHERE { ?s <urn:sc#type> <urn:sc#T> } }
    } }"""
    assert [r[0] for r in sparql_select(scoped, q).collect()] == ["<urn:sc#s1>"]


def test_subquery_inherits_from_named_restriction(scoped):
    # FROM-only dataset: GRAPH inside the subquery must match nothing
    q = """SELECT ?s FROM <urn:sg1> WHERE {
        { SELECT ?s WHERE { GRAPH ?g { ?s <urn:sc#type> <urn:sc#T> } } }
    }"""
    assert sparql_select(scoped, q).count() == 0
    # FROM NAMED whitelist flows into the subquery too
    q2 = """SELECT ?s FROM NAMED <urn:sg2> WHERE {
        { SELECT ?s WHERE { GRAPH ?g { ?s <urn:sc#type> <urn:sc#T> } } }
    }"""
    assert [r[0] for r in sparql_select(scoped, q2).collect()] == ["<urn:sc#s2>"]


def test_minus_removes_unbound_compatible_solutions(scoped):
    """SPARQL §8.3: {s:s1, v:unbound} is compatible with a minus
    solution binding only ?s=s1 (trivially) — and with ?v bound on the
    minus side, an unbound outer ?v is still compatible ⇒ removed."""
    q = """SELECT ?s ?v WHERE { GRAPH <urn:sg1> {
        <urn:sc#s1> <urn:sc#type> ?t .
        OPTIONAL { <urn:sc#missing> <urn:sc#p> ?v }
        BIND(<urn:sc#s1> AS ?s)
        MINUS { ?s <urn:sc#p> ?v }
    } }"""
    # outer solution: (s=s1, v=unbound); minus side binds (s=s1, v=v1);
    # compat (v unbound) + overlap (s bound both) ⇒ removed
    assert sparql_select(scoped, q).count() == 0


def test_filter_in_mixed_kinds(scoped):
    q = """SELECT ?o WHERE { GRAPH <urn:sg1> {
        <urn:sc#s1> <urn:sc#p> ?o .
        FILTER(?o IN (<urn:sc#v1>, "x"))
    } }"""
    assert [r[0] for r in sparql_select(scoped, q).collect()] == ["<urn:sc#v1>"]


def test_count_distinct_star_counts_unbound_solutions(scoped):
    q = """SELECT (COUNT(DISTINCT *) AS ?n) WHERE { GRAPH <urn:sg1> {
        ?s <urn:sc#type> <urn:sc#T> .
        OPTIONAL { ?s <urn:sc#missing> ?v }
    } }"""
    # one distinct solution (s1, unbound) — must count 1, not 0
    assert sparql_select(scoped, q).collect()[0][0] == 1


def test_empty_prefix_declaration(scoped):
    q = """PREFIX : <urn:sc#> SELECT ?s WHERE { GRAPH <urn:sg1> {
        ?s :type :T
    } }"""
    assert [r[0] for r in sparql_select(scoped, q).collect()] == ["<urn:sc#s1>"]


def test_select_expr_alias_nullability_flows_to_joins(scoped):
    """A subquery's (?v AS ?w) over an OPTIONAL var is possibly null;
    the enclosing join on ?w must use unbound-compatibility."""
    q = """SELECT ?s ?x ?w WHERE { GRAPH <urn:sg1> {
        { SELECT ?s (?v AS ?w) WHERE {
            ?s <urn:sc#type> <urn:sc#T> .
            OPTIONAL { ?s <urn:sc#p2> ?v }
        } }
        ?x <urn:sc#q> ?w .
    } }"""
    # subquery: (s1, unbound). unbound ?w is compatible with ?w=v1 from
    # the ?x pattern ⇒ one merged solution taking the bound value
    rows = [tuple(r) for r in sparql_select(scoped, q).collect()]
    assert rows == [("<urn:sc#s1>", "<urn:sc#a>", "<urn:sc#v1>")]


def test_graph_var_subquery_binds_graph(scoped):
    """GRAPH ?g { { SELECT ?s … } }: the subquery evaluates per active
    graph and ?g binds (SPARQL §13.3) — no cross-graph mixing."""
    q = """SELECT ?g ?s WHERE { GRAPH ?g {
        { SELECT ?s WHERE { ?s <urn:sc#type> <urn:sc#T> } }
    } }"""
    rows = {tuple(r) for r in sparql_select(scoped, q).collect()}
    assert rows == {
        ("<urn:sg1>", "<urn:sc#s1>"),
        ("<urn:sg2>", "<urn:sc#s2>"),
    }


def test_graph_var_agg_subquery_groups_per_graph(scoped):
    q = """SELECT ?g ?n WHERE { GRAPH ?g {
        { SELECT (COUNT(?s) AS ?n) WHERE { ?s <urn:sc#type> <urn:sc#T> } }
    } }"""
    rows = {tuple(r) for r in sparql_select(scoped, q).collect()}
    assert rows == {("<urn:sg1>", 1), ("<urn:sg2>", 1)}


def test_graph_var_limit_subquery_raises(scoped):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            scoped,
            """SELECT ?g ?s WHERE { GRAPH ?g {
                { SELECT ?s WHERE { ?s ?p ?o } LIMIT 1 }
            } }""",
        )


def test_exists_inside_graph_block_is_graph_scoped(scoped):
    """FILTER EXISTS inside GRAPH <g> evaluates against that graph only
    (SPARQL §13.3) — a match in another graph must not count."""
    # s2's type triple lives in g2 only: EXISTS scoped to g1 finds nothing
    q = """SELECT ?s WHERE { GRAPH <urn:sg1> {
        ?s <urn:sc#type> <urn:sc#T> .
        FILTER EXISTS { <urn:sc#s2> <urn:sc#type> ?t }
    } }"""
    assert sparql_select(scoped, q).count() == 0
    # and scoped to g2 it finds the triple
    q2 = """SELECT ?s WHERE { GRAPH <urn:sg2> {
        ?s <urn:sc#type> <urn:sc#T> .
        FILTER EXISTS { <urn:sc#s2> <urn:sc#type> ?t }
    } }"""
    assert sparql_select(scoped, q2).count() == 1


# ---------------------------------------------------------------------------
# SPARQL 1.1 function library: numeric / datetime / hash builtins and
# term constructors (IRI / STRDT / STRLANG / ENCODE_FOR_URI)
# ---------------------------------------------------------------------------

_XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.fixture(scope="module")
def funcdata(spark):
    rows = [
        ("<u:a>", "<u:val>", f'"-2.5"^^<{_XSD}decimal>', "g"),
        ("<u:a>", "<u:when>", f'"2023-05-01T10:30:45"^^<{_XSD}dateTime>', "g"),
        ("<u:a>", "<u:name>", '"caf e~*"', "g"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )


def _one(df, text):
    rows = sparql_select(df, text).collect()
    assert len(rows) == 1, rows
    return rows[0][0]


@pytest.mark.parametrize(
    "expr,want",
    [
        ("ABS(?v)", f'"2.5"^^<{_XSD}decimal>'),
        ("CEIL(?v)", f'"-2"^^<{_XSD}integer>'),
        ("FLOOR(?v)", f'"-3"^^<{_XSD}integer>'),
        ("ROUND(?v)", f'"-3"^^<{_XSD}integer>'),  # half away from zero
        ("ABS(FLOOR(?v))", f'"3"^^<{_XSD}integer>'),
    ],
)
def test_numeric_builtins_in_bind(funcdata, expr, want):
    got = _one(
        funcdata, f"SELECT ?x WHERE {{ ?s <u:val> ?v . BIND({expr} AS ?x) }}"
    )
    assert got == want


@pytest.mark.parametrize(
    "fn,want",
    [("YEAR", 2023), ("MONTH", 5), ("DAY", 1), ("HOURS", 10),
     ("MINUTES", 30), ("SECONDS", 45)],
)
def test_datetime_accessors(funcdata, fn, want):
    got = _one(
        funcdata, f"SELECT ?x WHERE {{ ?s <u:when> ?v . BIND({fn}(?v) AS ?x) }}"
    )
    assert got == f'"{want}"^^<{_XSD}integer>'
    assert sparql_select(
        funcdata,
        f"SELECT ?s WHERE {{ ?s <u:when> ?v . FILTER({fn}(?v) = {want}) }}",
    ).count() == 1


def test_hash_builtins_match_python(funcdata):
    import hashlib

    for fn, alg in (("MD5", "md5"), ("SHA1", "sha1"), ("SHA256", "sha256"),
                    ("SHA384", "sha384"), ("SHA512", "sha512")):
        got = _one(
            funcdata,
            f"SELECT ?x WHERE {{ ?s <u:name> ?v . BIND({fn}(?v) AS ?x) }}",
        )
        want = getattr(hashlib, alg)(b"caf e~*").hexdigest()
        assert got == f'"{want}"', fn


def test_encode_for_uri_rfc3986(funcdata):
    # space -> %20 (not '+'), '~' bare, '*' encoded — the three
    # divergences from application/x-www-form-urlencoded
    got = _one(
        funcdata,
        "SELECT ?x WHERE { ?s <u:name> ?v . BIND(ENCODE_FOR_URI(?v) AS ?x) }",
    )
    assert got == '"caf%20e~%2A"'


def test_term_constructors(funcdata):
    got = _one(
        funcdata,
        'SELECT ?x WHERE { ?s <u:name> ?v . '
        'BIND(IRI(CONCAT("urn:n#", ?v)) AS ?x) }',
    )
    assert got == "<urn:n#caf e~*>"
    assert _one(
        funcdata,
        'SELECT ?x WHERE { ?s <u:name> ?v . BIND(STRLANG(?v, "en") AS ?x) }',
    ) == '"caf e~*"@en'
    assert _one(
        funcdata,
        "SELECT ?x WHERE { ?s <u:name> ?v . BIND(STRDT(?v, <u:dt>) AS ?x) }",
    ) == '"caf e~*"^^<u:dt>'


def test_numeric_builtin_in_filter_comparison(funcdata):
    assert sparql_ask(
        funcdata, "ASK { ?s <u:val> ?v . FILTER(ABS(?v) > 2) }"
    )
    assert not sparql_ask(
        funcdata, "ASK { ?s <u:val> ?v . FILTER(ABS(?v) > 3) }"
    )


def test_hash_in_filter(funcdata):
    import hashlib

    h = hashlib.md5(b"caf e~*").hexdigest()
    assert sparql_ask(
        funcdata, f'ASK {{ ?s <u:name> ?v . FILTER(MD5(?v) = "{h}") }}'
    )


def test_builtin_arity_errors(funcdata):
    for bad in (
        "SELECT ?x WHERE { ?s <u:val> ?v . BIND(ABS(?v, ?v) AS ?x) }",
        "SELECT ?x WHERE { ?s <u:val> ?v . BIND(STRDT(?v, \"notiri\") AS ?x) }",
    ):
        with pytest.raises(SparqlSyntaxError):
            sparql_select(funcdata, bad)


def test_order_by_expression_keys(funcdata, spark):
    rows = [
        ("<u:e1>", "<u:nm>", '"dd"', "g"),
        ("<u:e2>", "<u:nm>", '"a"', "g"),
        ("<u:e3>", "<u:nm>", '"ccc"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    got = [
        r.s
        for r in sparql_select(
            df, "SELECT ?s WHERE { ?s <u:nm> ?n } ORDER BY STRLEN(?n)"
        ).collect()
    ]
    assert got == ["<u:e2>", "<u:e1>", "<u:e3>"]
    got = [
        r.s
        for r in sparql_select(
            df, "SELECT ?s WHERE { ?s <u:nm> ?n } ORDER BY DESC(STRLEN(?n)) LIMIT 2"
        ).collect()
    ]
    assert got == ["<u:e3>", "<u:e1>"]


def test_order_by_mixed_var_and_expression(spark):
    rows = [
        ("<u:p1>", "<u:v>", f'"-7"^^<{_XSD}integer>', "g"),
        ("<u:p2>", "<u:v>", f'"3"^^<{_XSD}integer>', "g"),
        ("<u:p3>", "<u:v>", f'"-3"^^<{_XSD}integer>', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    got = [
        r.s
        for r in sparql_select(
            df, "SELECT ?s WHERE { ?s <u:v> ?n } ORDER BY ABS(?n) ?s"
        ).collect()
    ]
    # |3| ties between p2 and p3 -> broken by ?s ascending
    assert got == ["<u:p2>", "<u:p3>", "<u:p1>"]


def test_langmatches_and_sameterm(spark):
    rows = [
        ("<u:1>", "<u:say>", '"hello"@en', "g"),
        ("<u:2>", "<u:say>", '"howdy"@en-US', "g"),
        ("<u:3>", "<u:say>", '"bonjour"@fr', "g"),
        ("<u:4>", "<u:say>", '"plain"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    got = {
        r.s
        for r in sparql_select(
            df,
            'SELECT ?s WHERE { ?s <u:say> ?v . '
            'FILTER(LANGMATCHES(LANG(?v), "en")) }',
        ).collect()
    }
    assert got == {"<u:1>", "<u:2>"}
    got = {
        r.s
        for r in sparql_select(
            df,
            'SELECT ?s WHERE { ?s <u:say> ?v . '
            'FILTER(LANGMATCHES(LANG(?v), "*")) }',
        ).collect()
    }
    assert got == {"<u:1>", "<u:2>", "<u:3>"}  # plain literal has no tag
    got = {
        r.s
        for r in sparql_select(
            df,
            "SELECT ?s WHERE { ?s <u:say> ?v . "
            "FILTER(sameTerm(?v, \"hello\"@en)) }",
        ).collect()
    }
    assert got == {"<u:1>"}
    # sameTerm is identity, not value equality: the plain "plain" does
    # not equal a datatyped copy of itself
    assert not sparql_select(
        df,
        "SELECT ?s WHERE { ?s <u:say> ?v . FILTER(sameTerm(?v, "
        '"plain"^^<http://www.w3.org/2001/XMLSchema#token>)) }',
    ).count()


def test_arithmetic_in_filter_bind_and_order(spark):
    rows = [
        ("<u:a>", "<u:price>", f'"10.5"^^<{_XSD}decimal>', "g"),
        ("<u:a>", "<u:qty>", f'"4"^^<{_XSD}integer>', "g"),
        ("<u:b>", "<u:price>", f'"2"^^<{_XSD}decimal>', "g"),
        ("<u:b>", "<u:qty>", f'"3"^^<{_XSD}integer>', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    # BIND of a product re-encodes by value shape
    got = sorted(
        tuple(r)
        for r in sparql_select(
            df,
            "SELECT ?s ?t WHERE { ?s <u:price> ?p ; <u:qty> ?q . "
            "BIND(?p * ?q AS ?t) }",
        ).collect()
    )
    assert got == [
        ("<u:a>", f'"42"^^<{_XSD}integer>'),
        ("<u:b>", f'"6"^^<{_XSD}integer>'),
    ]
    # precedence: (q + 2) * 2 vs q + 2 * 2
    assert sparql_ask(df, "ASK { ?s <u:qty> ?q . FILTER((?q + 2) * 2 = 12) }")
    assert sparql_ask(df, "ASK { ?s <u:qty> ?q . FILTER(?q + 2 * 2 = 8) }")
    # unary minus and signed-literal continuation
    assert [
        r.s
        for r in sparql_select(
            df, "SELECT ?s WHERE { ?s <u:price> ?p . FILTER(-?p < -10) }"
        ).collect()
    ] == ["<u:a>"]
    assert [
        r.s
        for r in sparql_select(
            df, "SELECT ?s WHERE { ?s <u:price> ?p . FILTER(?p -1 > 9) }"
        ).collect()
    ] == ["<u:a>"]
    # division produces decimals; by-zero drops the row (null ⇒ false)
    assert [
        r.s
        for r in sparql_select(
            df, "SELECT ?s WHERE { ?s <u:qty> ?q . FILTER(?q / 2 = 1.5) }"
        ).collect()
    ] == ["<u:b>"]
    assert (
        sparql_select(
            df, "SELECT ?s WHERE { ?s <u:qty> ?q . FILTER(?q / 0 = 1) }"
        ).count()
        == 0
    )
    # arithmetic inside builtin args and ORDER BY keys
    got = [
        r.s
        for r in sparql_select(
            df,
            "SELECT ?s WHERE { ?s <u:qty> ?q } ORDER BY ABS(?q - 10)",
        ).collect()
    ]
    assert got == ["<u:a>", "<u:b>"]  # |4-10|=6 < |3-10|=7


def test_aggregate_over_expression(spark):
    rows = [
        ("<u:o1>", "<u:price>", f'"10.5"^^<{_XSD}decimal>', "g"),
        ("<u:o1>", "<u:qty>", f'"4"^^<{_XSD}integer>', "g"),
        ("<u:o1>", "<u:cat>", '"a"', "g"),
        ("<u:o2>", "<u:price>", f'"2"^^<{_XSD}decimal>', "g"),
        ("<u:o2>", "<u:qty>", f'"3"^^<{_XSD}integer>', "g"),
        ("<u:o2>", "<u:cat>", '"a"', "g"),
        ("<u:o3>", "<u:price>", f'"5"^^<{_XSD}decimal>', "g"),
        ("<u:o3>", "<u:qty>", f'"2"^^<{_XSD}integer>', "g"),
        ("<u:o3>", "<u:cat>", '"b"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    got = sorted(
        tuple(r)
        for r in sparql_select(
            df,
            "SELECT ?c (SUM(?p * ?q) AS ?rev) WHERE { "
            "?o <u:price> ?p ; <u:qty> ?q ; <u:cat> ?c } GROUP BY ?c",
        ).collect()
    )
    assert got == [('"a"', 48.0), ('"b"', 10.0)]
    # expression aggregates compose with HAVING
    got = [
        r.c
        for r in sparql_select(
            df,
            "SELECT ?c (COUNT(*) AS ?n) WHERE { "
            "?o <u:price> ?p ; <u:qty> ?q ; <u:cat> ?c } GROUP BY ?c "
            "HAVING (SUM(?p * ?q) > 20)",
        ).collect()
    ]
    assert got == ['"a"']
    # GROUP_CONCAT over an expression is rejected loudly
    with pytest.raises(SparqlSyntaxError, match="GROUP_CONCAT"):
        sparql_select(
            df,
            "SELECT (GROUP_CONCAT(?p * ?q) AS ?x) WHERE { "
            "?o <u:price> ?p ; <u:qty> ?q }",
        )


def test_coalesce_and_if_in_filter(spark):
    rows = [
        ("<u:a>", "<u:n>", f'"5"^^<{_XSD}integer>', "g"),
        ("<u:a>", "<u:bonus>", f'"10"^^<{_XSD}integer>', "g"),
        ("<u:b>", "<u:n>", f'"7"^^<{_XSD}integer>', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    # COALESCE over an OPTIONAL-unbound var compares numerically
    got = {
        r.s
        for r in sparql_select(
            df,
            "SELECT ?s WHERE { ?s <u:n> ?n . "
            "OPTIONAL { ?s <u:bonus> ?b } "
            "FILTER(COALESCE(?b, 0) > 5) }",
        ).collect()
    }
    assert got == {"<u:a>"}
    # IF picks per row; compared against a string value
    got = {
        r.s
        for r in sparql_select(
            df,
            'SELECT ?s WHERE { ?s <u:n> ?n . '
            'OPTIONAL { ?s <u:bonus> ?b } '
            'FILTER(IF(BOUND(?b), "y", "n") = "y") }',
        ).collect()
    }
    assert got == {"<u:a>"}
    # CONCAT as a comparison operand (term mode vs plain string const)
    got = {
        r.s
        for r in sparql_select(
            df,
            'SELECT ?s WHERE { ?s <u:n> ?n . '
            'FILTER(CONCAT("v", STR(?n)) = "v7") }',
        ).collect()
    }
    assert got == {"<u:b>"}


def test_group_by_expression_key(spark):
    rows = [
        ("<u:e1>", "<u:when>", f'"2023-05-01T10:00:00"^^<{_XSD}dateTime>', "g"),
        ("<u:e2>", "<u:when>", f'"2023-07-02T10:00:00"^^<{_XSD}dateTime>', "g"),
        ("<u:e3>", "<u:when>", f'"2024-01-03T10:00:00"^^<{_XSD}dateTime>', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    got = sorted(
        tuple(r)
        for r in sparql_select(
            df,
            "SELECT ?y (COUNT(*) AS ?n) WHERE { ?s <u:when> ?d } "
            "GROUP BY (YEAR(?d) AS ?y)",
        ).collect()
    )
    assert got == [
        (f'"2023"^^<{_XSD}integer>', 2),
        (f'"2024"^^<{_XSD}integer>', 1),
    ]


def test_trailing_values_constrains_query(spark):
    rows = [
        ("<u:e1>", "<u:p>", '"a"', "g"),
        ("<u:e2>", "<u:p>", '"b"', "g"),
        ("<u:e3>", "<u:p>", '"c"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    got = sorted(
        r.s
        for r in sparql_select(
            df,
            "SELECT ?s WHERE { ?s <u:p> ?v } VALUES ?v { \"a\" \"c\" }",
        ).collect()
    )
    assert got == ["<u:e1>", "<u:e3>"]


def test_trailing_values_applies_after_aggregation(spark):
    """SPARQL §18.2.4.3: the query-level data block joins the
    AGGREGATED solution sequence, not the aggregate's input rows. A
    trailing VALUES over a variable that is not a group key therefore
    does not filter what gets counted (?o is out of scope after
    grouping ⇒ the join is a product), while VALUES over the group key
    selects whole groups with their full aggregates."""
    rows = [
        ("<u:e1>", "<u:p>", '"a"', "g"),
        ("<u:e1>", "<u:p>", '"b"', "g"),
        ("<u:e2>", "<u:p>", '"a"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    # non-key variable: must NOT restrict the aggregate input
    got = sorted(
        (r.s, r.n)
        for r in sparql_select(
            df,
            'SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <u:p> ?o } '
            'GROUP BY ?s VALUES ?o { "a" }',
        ).collect()
    )
    assert got == [("<u:e1>", 2), ("<u:e2>", 1)]
    # group key: selects the group, aggregate stays whole
    got2 = [
        (r.s, r.n)
        for r in sparql_select(
            df,
            "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <u:p> ?o } "
            "GROUP BY ?s VALUES ?s { <u:e1> }",
        ).collect()
    ]
    assert got2 == [("<u:e1>", 2)]
    # data block binding a projected variable the pattern never binds
    got3 = sorted(
        tuple(r)
        for r in sparql_select(
            df,
            'SELECT ?s ?tag WHERE { ?s <u:p> "b" } VALUES ?tag { "x" "y" }',
        ).collect()
    )
    assert got3 == [("<u:e1>", '"x"'), ("<u:e1>", '"y"')]


def test_trailing_values_joins_before_projection(spark):
    """SPARQL §18.2.4.3 joins the data block BEFORE §18.2.5's Project:
    a trailing VALUES over a variable that is in scope but not in the
    SELECT clause must still constrain the solutions — in the DISTINCT
    path and over a non-projected GROUP BY key alike (it must not
    degenerate to a cross join that silently drops the constraint)."""
    rows = [
        ("<u:e1>", "<u:p>", '"a"', "g"),
        ("<u:e1>", "<u:p>", '"b"', "g"),
        ("<u:e2>", "<u:p>", '"c"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    # DISTINCT path: ?s is not projected, yet the data block constrains
    got = sorted(
        r.v
        for r in sparql_select(
            df,
            "SELECT DISTINCT ?v WHERE { ?s <u:p> ?v } VALUES ?s { <u:e1> }",
        ).collect()
    )
    assert got == ['"a"', '"b"']
    # aggregate path: VALUES over a non-projected GROUP BY key selects
    # whole groups
    got2 = [
        (r.v, r.n)
        for r in sparql_select(
            df,
            "SELECT ?v (COUNT(?v) AS ?n) WHERE { ?s <u:p> ?v } "
            "GROUP BY ?v ?s VALUES ?s { <u:e2> }",
        ).collect()
    ]
    assert got2 == [('"c"', 1)]
    # non-DISTINCT deferred-projection path: same constraint
    got3 = sorted(
        r.v
        for r in sparql_select(
            df,
            "SELECT ?v WHERE { ?s <u:p> ?v } VALUES ?s { <u:e2> }",
        ).collect()
    )
    assert got3 == ['"c"']


# ---------------------------------------------------------------------------
# Positional BIND (SPARQL §18.2.2.6 Extend)
# ---------------------------------------------------------------------------


def test_bind_position_pattern_after_joins_on_bound_var(spark):
    """A triple pattern AFTER the BIND constrains the bound variable:
    BIND extends the solutions built so far, and the later pattern
    joins against the extended set."""
    rows = [
        ("<u:a>", "<u:name>", '"x"', "g"),
        ("<u:b>", "<u:name>", '"y"', "g"),
        ("<u:a>", "<u:tag>", '"x-tag"', "g"),
        ("<u:b>", "<u:tag>", '"z-tag"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    q = (
        "SELECT ?s WHERE { ?s <u:name> ?n "
        'BIND(CONCAT(STR(?n), "-tag") AS ?t) '
        "?s <u:tag> ?t }"
    )
    assert [r[0] for r in sparql_select(df, q).collect()] == ["<u:a>"]


def test_bind_forward_reference_stays_unbound(spark):
    """BIND referencing a variable bound only by a LATER pattern in the
    group must not see that binding (left-to-right Extend): evaluating
    the not-yet-bound variable is a type error, so the BIND target
    stays unbound in every solution (SPARQL §17.2 / §18.2.2.5) — never
    the later binding."""
    rows = [("<u:a>", "<u:p>", '"1"', "g")]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    got = sparql_select(
        df, "SELECT ?y WHERE { BIND(STR(?o) AS ?y) ?s <u:p> ?o }"
    ).collect()
    assert [r[0] for r in got] == [None]


def test_bind_first_element_extends_empty_solution(spark):
    """A group whose first element is a constant BIND extends the empty
    solution — one row carrying the value — and later patterns join it."""
    rows = [("<u:a>", "<u:p>", '"v"', "g")]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    q = 'SELECT ?k ?s WHERE { BIND("seed" AS ?k) ?s <u:p> ?o }'
    got = [tuple(r) for r in sparql_select(df, q).collect()]
    assert got == [('"seed"', "<u:a>")]


def test_bind_between_patterns_masks_only_prior_bindings(spark):
    """Two BINDs at different positions: each sees exactly the variables
    bound before its own position."""
    rows = [
        ("<u:a>", "<u:p>", '"1"', "g"),
        ("<u:a>", "<u:q>", '"2"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    q = (
        "SELECT ?x ?y WHERE { ?s <u:p> ?o BIND(STR(?o) AS ?x) "
        "?s <u:q> ?o2 BIND(CONCAT(?x, STR(?o2)) AS ?y) }"
    )
    got = [tuple(r) for r in sparql_select(df, q).collect()]
    assert got == [('"1"', '"12"')]


def test_optional_position_pattern_after_joins_extended_set(spark):
    """SPARQL §18.2.2.6 LeftJoin order: a pattern AFTER the OPTIONAL
    joins against the left-joined (possibly-null-extended) solutions —
    so it constrains the optional variable where bound, and the
    unbound-compatibility rule applies where not."""
    rows = [
        ("<u:a>", "<u:name>", '"x"', "g"),
        ("<u:b>", "<u:name>", '"y"', "g"),
        ("<u:a>", "<u:opt>", "<u:v1>", "g"),
        ("<u:v1>", "<u:flag>", '"on"', "g"),
        ("<u:v2>", "<u:flag>", '"on"', "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    q = (
        "SELECT ?s ?v WHERE { ?s <u:name> ?n "
        "OPTIONAL { ?s <u:opt> ?v } "
        "?v <u:flag> \"on\" }"
    )
    got = sorted(tuple(r) for r in sparql_select(df, q).collect())
    # <u:a>: v bound to v1, which has the flag -> kept with v1.
    # <u:b>: v unbound -> compatible with both flag subjects (the
    # unbound-compat join) -> two solutions with v taking each value.
    assert got == [
        ("<u:a>", "<u:v1>"),
        ("<u:b>", "<u:v1>"),
        ("<u:b>", "<u:v2>"),
    ]


def test_minus_position_scopes_shared_domain(spark):
    """Positional MINUS: the removal applies to the solutions built
    BEFORE it. A MINUS whose group shares a variable only with a LATER
    pattern removes nothing (disjoint domains at its position), whereas
    the same MINUS written after that pattern removes matching rows."""
    rows = [
        ("<u:a>", "<u:p>", '"1"', "g"),
        ("<u:b>", "<u:p>", '"2"', "g"),
        ("<u:a>", "<u:q>", "<u:k>", "g"),
        ("<u:b>", "<u:q>", "<u:k2>", "g"),
        ("<u:x>", "<u:r>", "<u:k>", "g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    early = (
        "SELECT ?s ?k WHERE { ?s <u:p> ?o "
        "MINUS { ?z <u:r> ?k } "
        "?s <u:q> ?k }"
    )
    # at the MINUS position only ?s/?o are bound: no shared domain with
    # {?z ?k} -> removes nothing; both rows survive and join their ?k
    got_early = sorted(tuple(r) for r in sparql_select(df, early).collect())
    assert got_early == [("<u:a>", "<u:k>"), ("<u:b>", "<u:k2>")]
    late = (
        "SELECT ?s ?k WHERE { ?s <u:p> ?o ?s <u:q> ?k "
        "MINUS { ?z <u:r> ?k } }"
    )
    # now ?k is bound before the MINUS: <u:a>'s k=<u:k> matches the
    # minus side and is removed
    got_late = sorted(tuple(r) for r in sparql_select(df, late).collect())
    assert got_late == [("<u:b>", "<u:k2>")]


def test_zero_length_path_constant_endpoints(spark):
    """SPARQL §18.4 ZeroLengthPath: a nullable path relates a CONSTANT
    term to itself even when the term never occurs in the graph — for
    subject-anchored, object-anchored, and both-constant forms."""
    df = spark.createDataFrame(
        [("<u:a>", "<u:p>", "<u:b>", "g")],
        "subj string, pred string, obj string, graph string",
    )
    # object-anchored ? over an absent constant: ?x binds to the term
    got = [r[0] for r in sparql_select(
        df, "SELECT ?x WHERE { ?x (<u:p>)? <u:zzz> }").collect()]
    assert got == ["<u:zzz>"]
    # subject-anchored * over an absent constant
    got2 = [r[0] for r in sparql_select(
        df, "SELECT ?y WHERE { <u:zzz> (<u:p>)* ?y }").collect()]
    assert got2 == ["<u:zzz>"]
    # both-constant: satisfied by the zero-length walk alone
    assert sparql_ask(df, "ASK { <u:zzz> (<u:p>)* <u:zzz> }")
    assert not sparql_ask(df, "ASK { <u:zzz> (<u:p>)+ <u:zzz> }")


def test_filter_var_var_comparison_value_aware(spark):
    """FILTER(?x > ?y) between two variables follows the §17.3 operator
    mapping: numeric literals compare by VALUE (10 > 9), string
    literals by lexical form, and IRI-vs-IRI ordering is a type error
    (row dropped). = / != stay RDF term equality."""
    df = spark.createDataFrame(
        [
            ("<u:a>", "<u:p>", '"10"^^<http://www.w3.org/2001/XMLSchema#integer>', "g"),
            ("<u:a>", "<u:q>", '"9"^^<http://www.w3.org/2001/XMLSchema#integer>', "g"),
            ("<u:b>", "<u:p>", '"alpha"', "g"),
            ("<u:b>", "<u:q>", '"beta"', "g"),
            ("<u:c>", "<u:p>", "<u:z1>", "g"),
            ("<u:c>", "<u:q>", "<u:z2>", "g"),
        ],
        "subj string, pred string, obj string, graph string",
    )
    gt = "SELECT ?s WHERE { ?s <u:p> ?x . ?s <u:q> ?y FILTER(?x > ?y) }"
    assert [r[0] for r in sparql_select(df, gt).collect()] == ["<u:a>"]
    lt = "SELECT ?s WHERE { ?s <u:p> ?x . ?s <u:q> ?y FILTER(?x < ?y) }"
    assert [r[0] for r in sparql_select(df, lt).collect()] == ["<u:b>"]
    ne = "SELECT ?s WHERE { ?s <u:p> ?x . ?s <u:q> ?y FILTER(?x != ?y) }"
    assert sorted(r[0] for r in sparql_select(df, ne).collect()) == [
        "<u:a>", "<u:b>", "<u:c>",
    ]
