"""Property-based pin for the property-path compiler.

For random small edge sets and random path expressions (link, inverse,
sequence, alternation, +, *, ?), the compiled DataFrame result must equal
a naive Python evaluator implementing SPARQL 1.1 §9.3 path semantics
(pairs as SETS — path results are distinct; zero-length paths match every
graph term with itself). Exercises both the general pair-relation
compilation and the seeded closure fast path (constant subject), each on
both paths of the closure operator: closed on the driver, and the
distributed frontier loop (driver limit patched to 0)."""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ontograph_spark.functions import graph_algo
from ontograph_spark.query.sparql import _Parser, _compile_group
from ontograph_spark.terms import local_frame

NODES = ["<u:a>", "<u:b>", "<u:c>", "<u:d>"]
PREDS = ["<u:p>", "<u:q>"]

edges_st = st.lists(
    st.tuples(
        st.sampled_from(NODES), st.sampled_from(PREDS), st.sampled_from(NODES)
    ),
    min_size=0,
    max_size=10,
    unique=True,
)

# path expression AST for generation: mirrors the compiler's node kinds.
# "nps" is the negated property set !(fwd…|^rev…) — forward members
# negate the forward edge relation, inverse members the inverted one
# (SPARQL 1.1 §9.1); at least one member in total.
link_st = st.sampled_from(PREDS).map(lambda p: ("link", p))
nps_st = st.tuples(
    st.lists(st.sampled_from(PREDS), unique=True, max_size=2),
    st.lists(st.sampled_from(PREDS), unique=True, max_size=2),
).filter(lambda fr: fr[0] or fr[1]).map(lambda fr: ("nps", fr[0], fr[1]))
path_st = st.recursive(
    st.one_of(link_st, nps_st),
    lambda inner: st.one_of(
        inner.map(lambda n: ("inv", n)),
        st.tuples(inner, inner).map(lambda ab: ("seq", list(ab))),
        st.tuples(inner, inner).map(lambda ab: ("alt", list(ab))),
        inner.map(lambda n: ("plus", n)),
        inner.map(lambda n: ("star", n)),
        inner.map(lambda n: ("zeroone", n)),
    ),
    max_leaves=4,
)


def path_to_text(node) -> str:
    kind = node[0]
    if kind == "link":
        return node[1]
    if kind == "nps":
        members = list(node[1]) + [f"^{p}" for p in node[2]]
        return "!(" + "|".join(members) + ")"
    if kind == "inv":
        return f"^({path_to_text(node[1])})"
    if kind == "seq":
        return "(" + "/".join(path_to_text(c) for c in node[1]) + ")"
    if kind == "alt":
        return "(" + "|".join(path_to_text(c) for c in node[1]) + ")"
    return f"({path_to_text(node[1])}){ {'plus': '+', 'star': '*', 'zeroone': '?'}[kind] }"


def naive_pairs(triples, node) -> set[tuple[str, str]]:
    """SPARQL 1.1 §9.3 path evaluation over a triple set, as pair sets."""
    kind = node[0]
    if kind == "link":
        return {(s, o) for s, p, o in triples if p == node[1]}
    if kind == "nps":
        fwd, rev = set(node[1]), set(node[2])
        out = set()
        if node[1]:
            out |= {(s, o) for s, p, o in triples if p not in fwd}
        if node[2]:
            out |= {(o, s) for s, p, o in triples if p not in rev}
        return out
    if kind == "inv":
        return {(o, s) for s, o in naive_pairs(triples, node[1])}
    if kind == "seq":
        cur = naive_pairs(triples, node[1][0])
        for child in node[1][1:]:
            nxt = naive_pairs(triples, child)
            cur = {(a, d) for a, b in cur for c, d in nxt if b == c}
        return cur
    if kind == "alt":
        out: set = set()
        for child in node[1]:
            out |= naive_pairs(triples, child)
        return out
    if kind in ("plus", "star"):
        base = naive_pairs(triples, node[1])
        closure = set(base)
        while True:
            step = {
                (a, d) for a, b in closure for c, d in base if b == c
            } - closure
            if not step:
                break
            closure |= step
        if kind == "star":
            closure |= {(n, n) for n in graph_terms(triples)}
        return closure
    if kind == "zeroone":
        return naive_pairs(triples, node[1]) | {
            (n, n) for n in graph_terms(triples)
        }
    raise AssertionError(node)


def graph_terms(triples) -> set[str]:
    return {s for s, _, _ in triples} | {o for _, _, o in triples}


def _quads(spark, triples, graph="u:g"):
    rows = [(s, p, o, graph) for s, p, o in triples]
    quads = local_frame(
        spark,
        rows or [("<u:none>", "<u:none>", "<u:none>", "u:none")],
        "subj string, pred string, obj string, graph string",
    )
    if not rows:
        quads = quads.where(f"graph = '{graph}'")
    return quads


def on_both_paths(run, limit=0):
    """``run()`` with the driver closure, then with the closure operator's
    driver limit patched to ``limit`` (0 forces the frontier loop)."""
    driver = run()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph_algo, "DRIVER_EDGE_LIMIT", limit)
        return driver, run()


def select(quads, query, cols):
    rows = _compile_group(quads, _Parser(query).parse_query().group).collect()
    return {tuple(r[c] for c in cols) for r in rows}


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(triples=edges_st, path=path_st)
def test_path_pairs_match_naive_evaluation(spark, triples, path):
    query = f"SELECT * WHERE {{ ?x {path_to_text(path)} ?y }}"
    want = naive_pairs(triples, path)
    for got in on_both_paths(
        lambda: select(_quads(spark, triples), query, ("x", "y"))
    ):
        assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    triples=edges_st,
    pred=st.sampled_from(PREDS),
    src=st.sampled_from(NODES),
    mod=st.sampled_from(["+", "*"]),
)
def test_seeded_closure_matches_naive(spark, triples, pred, src, mod):
    """Constant-subject closure (the seeded BFS fast path) must agree
    with the full-closure semantics restricted to that subject."""
    query = f"SELECT * WHERE {{ {src} {pred}{mod} ?y }}"
    node = ("plus" if mod == "+" else "star", ("link", pred))
    want = {(o,) for s, o in naive_pairs(triples, node) if s == src}
    if mod == "*":
        # a constant subject matches itself on the zero-length path even
        # when absent from the graph (SPARQL §9.3 zero-length semantics)
        want |= {(src,)}
    for got in on_both_paths(
        lambda: select(_quads(spark, triples), query, ("y",))
    ):
        assert got == want


def test_graph_var_closes_each_graph_within_itself(spark):
    """Under ``GRAPH ?g`` two graphs with cycles close separately: pairs
    never chain across graphs, and each cycle yields its self-pairs. The
    seeded closure (constant subject) runs per graph too."""
    g1 = [("<u:a>", "<u:p>", "<u:b>"), ("<u:b>", "<u:p>", "<u:a>"),
          ("<u:b>", "<u:p>", "<u:c>")]
    g2 = [("<u:c>", "<u:p>", "<u:d>"), ("<u:d>", "<u:p>", "<u:c>"),
          ("<u:a>", "<u:p>", "<u:c>")]
    quads = _quads(spark, g1, "u:g1").unionByName(_quads(spark, g2, "u:g2"))
    link = ("link", "<u:p>")
    for mod, kind in (("+", "plus"), ("*", "star")):
        want = {
            (f"<{g}>", x, y)
            for g, triples in (("u:g1", g1), ("u:g2", g2))
            for x, y in naive_pairs(triples, (kind, link))
        }
        query = f"SELECT * WHERE {{ GRAPH ?g {{ ?x <u:p>{mod} ?y }} }}"
        for got in on_both_paths(
            lambda: select(quads, query, ("g", "x", "y"))
        ):
            assert got == want
        seeded = f"SELECT * WHERE {{ GRAPH ?g {{ <u:a> <u:p>{mod} ?y }} }}"
        want_a = {(g, y) for g, x, y in want if x == "<u:a>"}
        if mod == "*":
            want_a |= {("<u:g1>", "<u:a>"), ("<u:g2>", "<u:a>")}
        for got in on_both_paths(
            lambda: select(quads, seeded, ("g", "y"))
        ):
            assert got == want_a


def test_closure_past_the_limit_falls_back_exactly(spark):
    """Edges that fit the driver limit but whose closure does not: the
    operator abandons the driver closure, runs the frontier loop, and is
    still exact."""
    chain = [(f"<u:n{i}>", "<u:p>", f"<u:n{i + 1}>") for i in range(6)]
    quads = _quads(spark, chain)
    path = ("plus", ("link", "<u:p>"))
    want = naive_pairs(chain, path)
    assert len(chain) <= 10 < len(want)  # 6 edges, 21 closure pairs
    query = "SELECT * WHERE { ?x <u:p>+ ?y }"
    for got in on_both_paths(
        lambda: select(quads, query, ("x", "y")), limit=10
    ):
        assert got == want
    edges = spark.createDataFrame(
        [(s, o) for s, _, o in chain], "src string, dst string"
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph_algo, "DRIVER_EDGE_LIMIT", 10)
        plan = graph_algo.transitive_closure(edges)._jdf.queryExecution()
        assert "LocalRelation" not in plan.optimizedPlan().toString()
    plan = graph_algo.transitive_closure(edges)._jdf.queryExecution()
    assert "LocalRelation" in plan.optimizedPlan().toString()


def test_closure_jobs_do_not_grow_with_chain_length(spark):
    """Compiling a ``+`` path fires the same number of Spark jobs for a
    3-edge and a 12-edge chain: no per-round job on the driver path."""
    sc = spark.sparkContext

    def jobs(n):
        chain = [(f"<u:n{i}>", "<u:p>", f"<u:n{i + 1}>") for i in range(n)]
        quads = _quads(spark, chain).localCheckpoint()
        q = _Parser("SELECT * WHERE { ?x <u:p>+ ?y }").parse_query()
        group = f"test-path-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            rows = _compile_group(quads, q.group).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rows) == n * (n + 1) // 2
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(3) == jobs(12)
