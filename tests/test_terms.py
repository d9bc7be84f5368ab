"""Term-codec golden tests.

The case matrix is transcribed from the reference test suite
(/root/reference/triple_test.go:9-211). Every case is checked against BOTH
twins: the pure-Python functions and the Spark Column expressions — the two
must agree exactly, because P/R scoring happens on these strings.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontograph_spark import terms

DT = "https://www.ontograph.com/test#literal"

RESOURCE_CASES = [
    ("<https://www.ontograph.com/test>", True),
    ("<https://www.ontograph.com/test#a>", True),
    ('"some literal"', False),
    ('"some literal"@de', False),
    (f'"some literal"^^<{DT}>', False),
    ("https://www.ontograph.com/test", False),
    ("<https://www.ontograph.com/test", False),
    ("https://www.ontograph.com/test>", False),
    ("<>", False),
    ("", False),
]

LITERAL_CASES = [
    ('"some literal"', True),
    ('"some literal"@de', True),
    (f'"some literal"^^<{DT}>', True),
    ("<https://www.ontograph.com/test>", False),
    ("<https://www.ontograph.com/test#a>", False),
    ("some literal", False),
    ('"some literal', False),
    ('some literal"', False),
    ('"some literal"de', False),
    (f'"some literal"^<{DT}>', False),
    ('""', False),
    ("", False),
]

VALUE_CASES = [
    ("<https://www.ontograph.com/test>", "https://www.ontograph.com/test"),
    ("<https://www.ontograph.com/test#a>", "https://www.ontograph.com/test#a"),
    ('"some literal"', "some literal"),
    ('"some literal"@de', "some literal"),
    (f'"some literal"^^<{DT}>', "some literal"),
    ("some literal", ""),
    ('"some literal', ""),
    ('some literal"', ""),
    ('"some literal"de', ""),
    (f'"some literal"^<{DT}>', ""),
    ("https://www.ontograph.com/test", ""),
    ("<https://www.ontograph.com/test", ""),
    ("https://www.ontograph.com/test>", ""),
    ("<>", ""),
    ('""', ""),
    ("", ""),
]

LANGUAGE_CASES = [
    ('"some literal"', ""),
    ('"some literal"@de', "de"),
    (f'"some literal"^^<{DT}>', ""),
    ('@de"some literal"', ""),
    ('de@"some literal"', ""),
    ("<>@de", ""),
    ('""', ""),
    ("", ""),
]

DATATYPE_CASES = [
    ('"some literal"', ""),
    ('"some literal"@de', ""),
    (f'"some literal"^^<{DT}>', DT),
    ('^^de"some literal"', ""),
    ('de^^"some literal"', ""),
    (f'"some literal"^^{DT}', ""),
    ("<>^^de", ""),
    ('""', ""),
    ("", ""),
]


def test_mk_resource():
    assert terms.mk_resource("https://www.ontograph.com/test") == (
        "<https://www.ontograph.com/test>"
    )
    assert terms.mk_resource("https://www.ontograph.com/test#a") == (
        "<https://www.ontograph.com/test#a>"
    )


def test_mk_literal():
    assert terms.mk_literal("Lorem ipsum", "", "") == '"Lorem ipsum"'
    assert terms.mk_literal("Lorem ipsum", "en", "") == '"Lorem ipsum"@en'
    assert (
        terms.mk_literal("Lorem ipsum", "", "http://www.w3.org/2001/XMLSchema#int")
        == '"Lorem ipsum"^^<http://www.w3.org/2001/XMLSchema#int>'
    )
    # language AND datatype can both be appended, in that order
    assert terms.mk_literal("x", "en", "dt") == '"x"@en^^<dt>'


@pytest.mark.parametrize("term,expected", RESOURCE_CASES)
def test_is_resource(term, expected):
    assert terms.is_resource(term) is expected


@pytest.mark.parametrize("term,expected", LITERAL_CASES)
def test_is_literal(term, expected):
    assert terms.is_literal(term) is expected


@pytest.mark.parametrize("term,expected", VALUE_CASES)
def test_term_value(term, expected):
    assert terms.term_value(term) == expected


@pytest.mark.parametrize("term,expected", LANGUAGE_CASES)
def test_term_language(term, expected):
    assert terms.term_language(term) == expected


@pytest.mark.parametrize("term,expected", DATATYPE_CASES)
def test_term_datatype(term, expected):
    assert terms.term_datatype(term) == expected


def test_validate_triple():
    terms.validate_triple(
        "<https://www.ontograph.com/test>",
        "<https://www.ontograph.com/test#rel>",
        "<https://www.ontograph.com/test#a>",
    )
    terms.validate_triple(
        "<https://www.ontograph.com/test>",
        "<https://www.ontograph.com/test#rel>",
        '"some literal"@en',
    )
    with pytest.raises(ValueError):
        terms.validate_triple(
            '"some literal"', "<https://x.com#rel>", "<https://x.com#a>"
        )
    with pytest.raises(ValueError):
        terms.validate_triple(
            "<https://x.com>", '"some literal"', "<https://x.com#a>"
        )
    with pytest.raises(ValueError):
        terms.validate_triple(
            "https://x.com>", "<https://x.com#rel>", "<https://x.com#a>"
        )


def test_column_twins_agree_with_python(spark):
    """Every case string through every Column expression must equal the
    pure-Python result — the distributed path and the oracle must never
    diverge."""
    cases = sorted(
        {t for t, _ in RESOURCE_CASES}
        | {t for t, _ in LITERAL_CASES}
        | {t for t, _ in VALUE_CASES}
        | {t for t, _ in LANGUAGE_CASES}
        | {t for t, _ in DATATYPE_CASES}
        | {'"a@b"', '"a@b"@de', '"x"@en^^<dt>', '"v"^^<d>^^<e>', '"x"@'}
    )
    df = spark.createDataFrame([(c,) for c in cases], ["t"])
    rows = df.select(
        "t",
        terms.is_resource_col("t").alias("is_res"),
        terms.is_literal_col("t").alias("is_lit"),
        terms.term_value_col("t").alias("val"),
        terms.term_language_col("t").alias("lang"),
        terms.term_datatype_col("t").alias("dt"),
    ).collect()
    assert len(rows) == len(cases)
    for row in rows:
        t = row["t"]
        assert row["is_res"] == terms.is_resource(t), t
        assert row["is_lit"] == terms.is_literal(t), t
        assert row["val"] == terms.term_value(t), t
        assert row["lang"] == terms.term_language(t), t
        assert row["dt"] == terms.term_datatype(t), t


def test_column_constructors_agree_with_python(spark):
    data = [
        ("https://www.ontograph.com/test", "Lorem ipsum", "", ""),
        ("https://x.com#a", "Lorem ipsum", "en", ""),
        ("https://x.com#b", "v", "", "http://www.w3.org/2001/XMLSchema#int"),
        ("https://x.com#c", "v", "en", "dt"),
    ]
    df = spark.createDataFrame(data, ["uri", "val", "lang", "dt"])
    rows = df.select(
        "uri",
        "val",
        "lang",
        "dt",
        terms.resource_term("uri").alias("res"),
        terms.literal_term(F.col("val"), F.col("lang"), F.col("dt")).alias("lit"),
    ).collect()
    for row in rows:
        assert row["res"] == terms.mk_resource(row["uri"])
        assert row["lit"] == terms.mk_literal(row["val"], row["lang"], row["dt"])


def test_local_frame_is_a_typed_local_table_scan(spark):
    """Rows keep their values and the schema's types and nullability,
    no rows still carry the schema, and the plan leaf is a
    ``LocalTableScan`` (no ``Scan ExistingRDD``)."""
    from ontograph_spark.store.base import QUAD_SCHEMA

    df = terms.local_frame(spark, [("a", 1, 0.5), ("b", None, None)], "s string, n bigint, x double")
    assert [tuple(r) for r in df.collect()] == [("a", 1, 0.5), ("b", None, None)]
    assert df.dtypes == [("s", "string"), ("n", "bigint"), ("x", "double")]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    empty = terms.local_frame(spark, [], QUAD_SCHEMA)
    assert empty.schema == QUAD_SCHEMA and empty.count() == 0
