"""Unit coverage for the SERVICE serializer helpers (query/federation.py):
term_to_surface ECHAR re-escaping + UNDEF, path_to_sparql round-trips,
and local_bindings_for_bound_join's variable-safety rules. Pure driver
code — no Spark session needed except for the binding collector."""

from __future__ import annotations

import pytest

from ontograph_spark.query.federation import (
    BOUND_JOIN_MAX,
    _mandatory_vars,
    path_to_sparql,
    service_query_text,
    term_to_surface,
)
from ontograph_spark.query.sparql import _Parser


def _service_body(q: str):
    """Parse a query and return its first SERVICE body group."""
    parsed = _Parser(q).parse_query()
    return parsed.group.services[0][1]


def test_term_to_surface_escapes_and_undef():
    assert term_to_surface(None) == "UNDEF"
    assert term_to_surface("<u:x>") == "<u:x>"
    assert term_to_surface('"plain"') == '"plain"'
    assert term_to_surface('"a\nb"') == '"a\\nb"'
    assert term_to_surface('"q\\"uote"') == '"q\\\\\\"uote"'
    assert term_to_surface('"tag"@en') == '"tag"@en'
    xsd = "http://www.w3.org/2001/XMLSchema#integer"
    assert term_to_surface(f'"5"^^<{xsd}>') == f'"5"^^<{xsd}>'


def test_path_to_sparql_round_trips_through_parser():
    """Serializing a parsed path and re-parsing it yields the same AST
    (conservative parens are normalized away by the parser)."""
    for text in (
        "<u:p>+",
        "^<u:p>",
        "<u:p>/<u:q>",
        "(<u:p>|<u:q>)*",
        "(^<u:p>/<u:q>)?",
        "!(<u:p>|<u:q>)",
        "!(^<u:p>)",
    ):
        q = f"SELECT ?x ?y WHERE {{ ?x {text} ?y }}"
        ast1 = _Parser(q).parse_query().group.paths[0].path
        rendered = path_to_sparql(ast1)
        q2 = f"SELECT ?x ?y WHERE {{ ?x {rendered} ?y }}"
        ast2 = _Parser(q2).parse_query().group.paths[0].path
        assert ast2 == ast1, (text, rendered)


def test_mandatory_vars_exclude_optional_union_values():
    body = _service_body(
        "SELECT * WHERE { SERVICE <http://x/s> { "
        "?a <u:p> ?b . ?c (<u:p>)+ ?d "
        "OPTIONAL { ?a <u:q> ?opt } "
        "{ ?a <u:r> ?u1 } UNION { ?a <u:s> ?u2 } "
        'VALUES ?v { "1" } } }'
    )
    assert _mandatory_vars(body) == {"a", "b", "c", "d"}


def test_graph_var_slot_is_mandatory():
    body = _service_body(
        "SELECT * WHERE { SERVICE <http://x/s> { "
        "GRAPH ?g { ?a <u:p> ?b } } }"
    )
    assert _mandatory_vars(body) == {"a", "b", "g"}


def test_bound_join_threshold_and_nullable_cells(spark):
    from ontograph_spark.query.federation import local_bindings_for_bound_join

    body = _service_body(
        "SELECT * WHERE { SERVICE <http://x/s> { ?a <u:p> ?b } }"
    )
    df = spark.createDataFrame(
        [("<u:1>",), ("<u:2>",), (None,)], "a string"
    )
    got = local_bindings_for_bound_join(df, body)
    assert got is not None
    names, rows = got
    assert names == ["a"]
    assert sorted(rows, key=str) == sorted(
        [("<u:1>",), ("<u:2>",), (None,)], key=str
    )
    # above the limit: fall back to the unconstrained fetch
    assert local_bindings_for_bound_join(df, body, limit=2) is None
    # no shared mandatory vars: nothing to inject
    df2 = spark.createDataFrame([("x",)], "zz string")
    assert local_bindings_for_bound_join(df2, body) is None
    assert BOUND_JOIN_MAX > 0


def test_service_numeric_constants_ship_as_written():
    """A FILTER's numeric constants ship in their lexical form: a float
    round trip would send 9007199254740993 as 9007199254740992 (2^53 + 1
    has no double) and rewrite 05 / 1.50 / +2."""
    body = _service_body(
        "SELECT * WHERE { SERVICE <http://x/s> { ?a <u:p> ?b "
        "FILTER(?b = 9007199254740993 || ?b IN (05, 1.50, +2)) } }"
    )
    text, _ = service_query_text(body)
    assert "(?b = 9007199254740993)" in text
    assert "(?b IN (05, 1.50, +2))" in text
