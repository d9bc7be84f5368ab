"""Property-based test for the SPARQL BGP compiler.

tests/test_sparql_query.py pins hand-picked shapes; this pins the whole
small-BGP space: for random quad sets and random 1-3-pattern basic graph
patterns, the compiled DataFrame plan must produce the SAME BAG of
solutions as a naive driver-side unification evaluator (the textbook
semantics of BGP matching — one binding extension per matching triple
per partial solution). Bag, not set: inner joins have multiset
semantics, and the compiler must not introduce or lose duplicates
through its selectivity-based join reordering.

One shared Spark session, batched: hypothesis drives the example
generation, but each example is a tiny local job, so examples are
capped and deadline disabled (Spark latency, not algorithmic time).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ontograph_spark.query.sparql import _Parser, _compile_group
from ontograph_spark.terms import local_frame

SUBJECTS = ["<u:a>", "<u:b>", "<u:c>"]
PREDS = ["<u:p>", "<u:q>"]
OBJECTS = ["<u:a>", "<u:b>", '"x"', '"y"@de']
VARS = ["x", "y", "z"]

triples_st = st.lists(
    st.tuples(
        st.sampled_from(SUBJECTS), st.sampled_from(PREDS), st.sampled_from(OBJECTS)
    ),
    min_size=0,
    max_size=8,
    unique=True,  # quad stores have set semantics
)


def slot_st(pool):
    return st.one_of(
        st.sampled_from([("var", v) for v in VARS]),
        st.sampled_from([("term", t) for t in pool]),
    )


pattern_st = st.tuples(slot_st(SUBJECTS), slot_st(PREDS), slot_st(OBJECTS)).filter(
    lambda p: any(kind == "var" for kind, _ in p)
)
bgp_st = st.lists(pattern_st, min_size=1, max_size=3)


def naive_bgp(triples, patterns):
    """Textbook BGP evaluation: extend each partial binding with every
    matching triple, pattern by pattern. Returns the solution bag."""
    solutions = [dict()]
    for pat in patterns:
        extended = []
        for binding in solutions:
            for triple in triples:
                b = dict(binding)
                ok = True
                for (kind, val), actual in zip(pat, triple):
                    if kind == "term":
                        if actual != val:
                            ok = False
                            break
                    elif b.get(val, actual) != actual:
                        ok = False
                        break
                    else:
                        b[val] = actual
                if ok:
                    extended.append(b)
        solutions = extended
    return solutions


def _quads(spark, triples):
    """The triples as graph ``u:g`` of a local quad relation."""
    rows = [(s, p, o, "u:g") for s, p, o in triples]
    quads = local_frame(
        spark,
        rows or [("<u:none>", "<u:none>", "<u:none>", "u:none")],
        "subj string, pred string, obj string, graph string",
    )
    if not rows:
        quads = quads.where("graph = 'u:g'")
    return quads


def to_query(patterns) -> str:
    def term(slot):
        kind, val = slot
        return f"?{val}" if kind == "var" else val

    body = " . ".join(" ".join(term(s) for s in pat) for pat in patterns)
    return f"SELECT * WHERE {{ {body} }}"


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(triples=triples_st, patterns=bgp_st)
def test_bgp_matches_naive_unification(spark, triples, patterns):
    quads = _quads(spark, triples)
    q = _Parser(to_query(patterns)).parse_query()
    df = _compile_group(quads, q.group)
    got = Counter(tuple(sorted(r.asDict().items())) for r in df.collect())
    want = Counter(
        tuple(sorted(b.items())) for b in naive_bgp(triples, patterns)
    )
    assert got == want


def to_optional_query(left, opt) -> str:
    def term(slot):
        kind, val = slot
        return f"?{val}" if kind == "var" else val

    lbody = " . ".join(" ".join(term(s) for s in pat) for pat in left)
    obody = " . ".join(" ".join(term(s) for s in pat) for pat in opt)
    return f"SELECT * WHERE {{ {lbody} OPTIONAL {{ {obody} }} }}"


def naive_optional(triples, left, opt):
    """SPARQL leftjoin over BGP solutions: extend each left solution with
    every compatible right solution; keep it bare when none match. All
    BGP solutions bind all their vars, so compatibility == equality on
    shared keys (the regime the compiler supports exactly)."""
    lsol = naive_bgp(triples, left)
    rsol = naive_bgp(triples, opt)
    out = []
    for b in lsol:
        matches = [
            {**b, **r}
            for r in rsol
            if all(b[k] == r[k] for k in b.keys() & r.keys())
        ]
        out.extend(matches if matches else [b])
    return out


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(triples=triples_st, left=st.lists(pattern_st, min_size=1, max_size=2),
       opt=st.lists(pattern_st, min_size=1, max_size=2))
def test_optional_matches_naive_leftjoin(spark, triples, left, opt):
    quads = _quads(spark, triples)
    q = _Parser(to_optional_query(left, opt)).parse_query()
    df = _compile_group(quads, q.group)
    got = Counter(
        tuple(sorted((k, v) for k, v in r.asDict().items() if v is not None))
        for r in df.collect()
    )
    want = Counter(
        tuple(sorted(b.items())) for b in naive_optional(triples, left, opt)
    )
    assert got == want


def naive_leftjoin(lsol, rsol):
    """SPARQL §leftjoin over *partial* solutions: μ1 and μ2 are
    compatible iff they agree on the variables bound in BOTH (an unbound
    variable is compatible with anything); the merge takes the union of
    bindings. This is the full rule — not the all-vars-bound restriction
    the single-level test above relies on."""
    out = []
    for b in lsol:
        matches = [
            {**b, **r}
            for r in rsol
            if all(b[k] == r[k] for k in b.keys() & r.keys())
        ]
        out.extend(matches if matches else [b])
    return out


def _run_group(spark, triples, query):
    quads = _quads(spark, triples)
    q = _Parser(query).parse_query()
    df = _compile_group(quads, q.group)
    return Counter(
        tuple(sorted((k, v) for k, v in r.asDict().items() if v is not None))
        for r in df.collect()
    )


def _bag(sols):
    return Counter(tuple(sorted(b.items())) for b in sols)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(triples=triples_st, left=st.lists(pattern_st, min_size=1, max_size=2),
       opt1=st.lists(pattern_st, min_size=1, max_size=1),
       opt2=st.lists(pattern_st, min_size=1, max_size=1))
def test_sequential_optionals_match_naive_leftjoin(
    spark, triples, left, opt1, opt2
):
    """{ L OPTIONAL { O1 } OPTIONAL { O2 } }: the second OPTIONAL joins
    against solutions whose O1-vars may be UNBOUND — the regime the
    round-2 compiler dropped and the compat join now handles exactly."""
    def term(slot):
        kind, val = slot
        return f"?{val}" if kind == "var" else val

    def body(pats):
        return " . ".join(" ".join(term(s) for s in pat) for pat in pats)

    query = (
        f"SELECT * WHERE {{ {body(left)} "
        f"OPTIONAL {{ {body(opt1)} }} OPTIONAL {{ {body(opt2)} }} }}"
    )
    got = _run_group(spark, triples, query)
    want = _bag(
        naive_leftjoin(
            naive_leftjoin(naive_bgp(triples, left), naive_bgp(triples, opt1)),
            naive_bgp(triples, opt2),
        )
    )
    assert got == want


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(triples=triples_st, left=st.lists(pattern_st, min_size=1, max_size=2),
       inner=st.lists(pattern_st, min_size=1, max_size=1),
       innermost=st.lists(pattern_st, min_size=1, max_size=1))
def test_nested_optional_matches_naive_leftjoin(
    spark, triples, left, inner, innermost
):
    """{ L OPTIONAL { I OPTIONAL { J } } }: the outer left join's right
    side itself contains maybe-unbound vars (from J)."""
    def term(slot):
        kind, val = slot
        return f"?{val}" if kind == "var" else val

    def body(pats):
        return " . ".join(" ".join(term(s) for s in pat) for pat in pats)

    query = (
        f"SELECT * WHERE {{ {body(left)} OPTIONAL {{ {body(inner)} "
        f"OPTIONAL {{ {body(innermost)} }} }} }}"
    )
    got = _run_group(spark, triples, query)
    want = _bag(
        naive_leftjoin(
            naive_bgp(triples, left),
            naive_leftjoin(
                naive_bgp(triples, inner), naive_bgp(triples, innermost)
            ),
        )
    )
    assert got == want


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(triples=triples_st, a=st.lists(pattern_st, min_size=1, max_size=2),
       b=st.lists(pattern_st, min_size=1, max_size=2))
def test_union_matches_naive_bag_union(spark, triples, a, b):
    def term(slot):
        kind, val = slot
        return f"?{val}" if kind == "var" else val

    abody = " . ".join(" ".join(term(s) for s in pat) for pat in a)
    bbody = " . ".join(" ".join(term(s) for s in pat) for pat in b)
    query = f"SELECT * WHERE {{ {{ {abody} }} UNION {{ {bbody} }} }}"
    quads = _quads(spark, triples)
    q = _Parser(query).parse_query()
    df = _compile_group(quads, q.group)
    got = Counter(
        tuple(sorted((k, v) for k, v in r.asDict().items() if v is not None))
        for r in df.collect()
    )
    want = Counter(
        tuple(sorted(s.items()))
        for s in naive_bgp(triples, a) + naive_bgp(triples, b)
    )
    assert got == want
