"""N-Triples term codec — the engine's foundation.

A *term* is a subject/predicate/object encoded as a single N-Triples string:
``<uri>`` for resources, ``"lit"``, ``"lit"@lang``, ``"lit"^^<dt>`` for
literals. Semantics (including the quirky edge cases) mirror the reference
(/root/reference/triple.go:16-88) byte for byte, because triple P/R is
computed on these exact strings.

Every helper exists in two twin forms:

* a **pure-Python** function (``mk_resource`` …) used driver-side and as
  the golden oracle in tests;
* a **Spark Column expression** (``resource_term`` …) built only from
  built-in ``pyspark.sql.functions`` so term work stays JVM-side inside
  whole-stage codegen — no Python in the distributed hot path.

The two are golden-tested against each other and against the reference's
test matrix (/root/reference/triple_test.go) in tests/test_terms.py.

Terms built on the driver reach Spark through :func:`local_frame`, the one
constructor of driver-built relations.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# ---------------------------------------------------------------------------
# Pure-Python twin (driver-side / pandas-UDF-side / golden oracle)
# ---------------------------------------------------------------------------


def mk_resource(uri: str) -> str:
    """Encode a URI as a resource term (triple.go:16-18)."""
    return f"<{uri}>"


def mk_literal(value: str, language: str = "", datatype: str = "") -> str:
    """Encode a literal term; language and datatype can both be appended,
    in that order, with no escaping of inner quotes (triple.go:21-30)."""
    t = f'"{value}"'
    if language:
        t += f"@{language}"
    if datatype:
        t += f"^^<{datatype}>"
    return t


def is_resource(term: str) -> bool:
    """True iff the term is shaped ``<...>`` with non-empty body
    (triple.go:38-41; ``<>`` and ``""`` are invalid)."""
    return len(term) > 2 and term[0] == "<" and term[-1] == ">"


def is_literal(term: str) -> bool:
    """True iff the term starts with a quote and either ends with one or
    carries a ``"@`` / ``"^^`` tag (triple.go:44-47)."""
    return (
        len(term) > 2
        and term[0] == '"'
        and (term[-1] == '"' or '"@' in term or '"^^' in term)
    )


def term_value(term: str) -> str:
    """The URI or literal value; empty string for invalid terms.

    Branch order matters and mirrors triple.go:50-68: the ends-with-quote
    check wins over the ``"@`` / ``"^^`` checks.
    """
    s = term
    if len(s) <= 2:
        return ""
    if s[0] == "<" and s[-1] == ">":
        return s[1:-1]
    if s[0] == '"' and s[-1] == '"':
        return s[1:-1]
    if s[0] == '"' and '"@' in s:
        at = s.rindex("@")
        return s[1 : at - 1] if at >= 2 else ""
    if s[0] == '"' and '"^^' in s:
        at = s.rindex("^^")
        return s[1 : at - 1] if at >= 2 else ""
    return ""


def term_language(term: str) -> str:
    """Language tag: text after the *last* ``@``, only when the term
    contains ``"@`` (triple.go:71-78)."""
    s = term
    if len(s) > 2 and s[0] == '"' and '"@' in s:
        return s[s.rindex("@") + 1 :]
    return ""


def term_datatype(term: str) -> str:
    """Datatype URI: text after the *last* ``^^`` parsed as a resource term,
    only when the term contains ``"^^`` (triple.go:81-88)."""
    s = term
    if len(s) > 2 and s[0] == '"' and '"^^' in s:
        return term_value(s[s.rindex("^^") + 2 :])
    return ""


def validate_triple(subj: str, pred: str, obj: str) -> None:
    """Raise ValueError unless subject/predicate are resources and the
    object is a resource or literal (triple.go:102-120)."""
    if not is_resource(subj):
        raise ValueError(f"Subject '{subj}' is not a resource")
    if not is_resource(pred):
        raise ValueError(f"Predicate '{pred}' is not a resource")
    if not is_resource(obj) and not is_literal(obj):
        raise ValueError(f"Object '{obj}' is not a resource or literal")


# ---------------------------------------------------------------------------
# Spark Column twin (JVM-side, whole-stage-codegen friendly)
# ---------------------------------------------------------------------------


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def resource_term(uri: Column | str) -> Column:
    """Column form of :func:`mk_resource`."""
    return F.concat(F.lit("<"), _col(uri), F.lit(">"))


def literal_term(
    value: Column | str,
    language: Column | str | None = None,
    datatype: Column | str | None = None,
) -> Column:
    """Column form of :func:`mk_literal`. ``language``/``datatype`` may be
    None (absent), plain strings (constant tags) or Columns; empty strings
    mean "no tag", matching the reference."""
    t = F.concat(F.lit('"'), _col(value), F.lit('"'))
    if language is not None:
        lang = F.lit(language) if isinstance(language, str) else language
        t = F.concat(
            t,
            F.when(lang != "", F.concat(F.lit("@"), lang)).otherwise(F.lit("")),
        )
    if datatype is not None:
        dt = F.lit(datatype) if isinstance(datatype, str) else datatype
        t = F.concat(
            t,
            F.when(dt != "", F.concat(F.lit("^^<"), dt, F.lit(">"))).otherwise(
                F.lit("")
            ),
        )
    return t


def is_resource_col(term: Column | str) -> Column:
    c = _col(term)
    return (
        (F.length(c) > 2)
        & (c.substr(1, 1) == "<")
        & (c.substr(F.length(c), F.lit(1)) == ">")
    )


def is_literal_col(term: Column | str) -> Column:
    c = _col(term)
    return (
        (F.length(c) > 2)
        & (c.substr(1, 1) == '"')
        & (
            (c.substr(F.length(c), F.lit(1)) == '"')
            | c.contains('"@')
            | c.contains('"^^')
        )
    )


def _last_index(c: Column, needle: str) -> Column:
    """0-based index of the last occurrence of ``needle`` in ``c``.

    ``locate`` over the reversed string finds the last original occurrence;
    for the multi-char needle the reversed needle equals itself for the two
    needles used here ("@", "^^")."""
    r = F.locate(needle[::-1], F.reverse(c))
    return F.length(c) - r - (len(needle) - 1)


def term_value_col(term: Column | str) -> Column:
    """Column form of :func:`term_value` — same branch order."""
    c = _col(term)
    first = c.substr(1, 1)
    last = c.substr(F.length(c), F.lit(1))
    at_amp = _last_index(c, "@")
    at_caret = _last_index(c, "^^")
    return (
        F.when(F.length(c) <= 2, F.lit(""))
        .when((first == "<") & (last == ">"), c.substr(F.lit(2), F.length(c) - 2))
        .when((first == '"') & (last == '"'), c.substr(F.lit(2), F.length(c) - 2))
        .when(
            (first == '"') & c.contains('"@'),
            c.substr(F.lit(2), F.greatest(at_amp - 2, F.lit(0))),
        )
        .when(
            (first == '"') & c.contains('"^^'),
            c.substr(F.lit(2), F.greatest(at_caret - 2, F.lit(0))),
        )
        .otherwise(F.lit(""))
    )


def term_language_col(term: Column | str) -> Column:
    """Column form of :func:`term_language`."""
    c = _col(term)
    at = _last_index(c, "@")
    return F.when(
        (F.length(c) > 2) & (c.substr(1, 1) == '"') & c.contains('"@'),
        c.substr(at + 2, F.length(c)),
    ).otherwise(F.lit(""))


def term_datatype_col(term: Column | str) -> Column:
    """Column form of :func:`term_datatype`."""
    c = _col(term)
    at = _last_index(c, "^^")
    tail = c.substr(at + 3, F.length(c))
    return F.when(
        (F.length(c) > 2) & (c.substr(1, 1) == '"') & c.contains('"^^'),
        term_value_col(tail),
    ).otherwise(F.lit(""))


# ---------------------------------------------------------------------------
# Driver-built relations
# ---------------------------------------------------------------------------


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A relation built on the driver from positional ``rows`` in
    ``schema``'s column order (a ``StructType`` or a DDL string).

    The rows become a ``pyarrow.Table`` typed by the schema
    (``to_arrow_schema``), which Spark plans as a ``LocalTableScan``: no
    ``Scan ExistingRDD`` whose every task needs a Python worker to unpickle
    its rows, and an exact size for the planner (a join against it can be
    broadcast). Every driver-built relation of the engine goes through
    here."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
