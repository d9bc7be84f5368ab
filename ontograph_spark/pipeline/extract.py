"""Mention detection over file content.

One JVM projection scans file content for code mentions (imports,
function/type/class declarations, cross-repo references): each rule is a
``regexp_extract_all`` over the content, paired with its kind, and the
pairs of the row's language expand into ``(kind, name)`` rows. No Python
runs per row or per batch: the stage is whole-stage code, with no Python
worker behind it.

``PATTERNS`` is the single source of truth for the extraction grammar,
written in Python's ``re`` dialect: the distributed stage runs each rule
through :func:`java_regex` (the same match set under ``java.util.regex``)
and the pure-Python golden oracle (:func:`extract_mentions_py`) compiles
the rule as written, so the P/R test compares two independent execution
paths of one specification.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: lang -> [(mention kind, multiline regex with one capture group)]
PATTERNS: dict[str, list[tuple[str, str]]] = {
    "python": [
        ("import", r"^import ([\w.\-]+)\s*$"),
        ("import", r"^from ([\w.\-]+) import \w+\s*$"),
        ("class", r"^class (\w+):"),
        ("func", r"^def (\w+)\("),
        ("repo_ref", r"^# see repo:([\w\-]+)\s*$"),
    ],
    "go": [
        ("import", r'^\s+"([\w.\-]+)"\s*$'),
        ("type", r"^type (\w+) struct"),
        ("func", r"^func (\w+)\("),
        ("repo_ref", r"^// see repo:([\w\-]+)\s*$"),
    ],
}

_COMPILED = {
    lang: [(kind, re.compile(pat, re.M)) for kind, pat in pats]
    for lang, pats in PATTERNS.items()
}

#: Python ``str``-pattern classes in Java's dialect: ``\w`` is a letter,
#: a number or ``_`` (``str.isalnum``; Java's Unicode ``\w`` adds marks
#: and connector punctuation), ``\s`` is Unicode white space plus the
#: separators U+001C-U+001F that ``str.isspace`` counts. Values are the
#: class bodies; outside a class they are bracketed.
_CLASSES = {"w": r"\p{L}\p{N}_", "s": r"\s\x1c-\x1f"}


def java_regex(pattern: str) -> str:
    """A ``PATTERNS`` rule (Python ``re`` with ``re.M``) as the Java
    regex that matches the same spans: ``(?mdU)`` (multiline, ``\\n`` the
    only line end as in Python, Unicode ``\\s``) and ``\\w``/``\\s``
    spelled out per ``_CLASSES``. Any other class escape raises, so a new
    rule cannot silently change meaning between the two engines."""
    out, in_class = ["(?mdU)"], False
    for tok in re.findall(r"\\.|.", pattern, re.S):
        esc = tok[1:]
        if esc in _CLASSES:
            tok = _CLASSES[esc] if in_class else f"[{_CLASSES[esc]}]"
        elif esc.isalnum():
            raise ValueError(f"no Java translation for {tok} in {pattern!r}")
        elif tok in ("[", "]"):
            in_class = tok == "["
        out.append(tok)
    return "".join(out)


def _matches(pattern: str) -> Column:
    """Group 1 of every match of a ``PATTERNS`` rule over the content."""
    return F.regexp_extract_all("content", F.lit(java_regex(pattern)), 1)


def _by_lang(values: dict[str, Column]) -> Column:
    """``CASE lang WHEN l THEN values[l] … END`` (null for other langs)."""
    (lang, value), *rest = values.items()
    out = F.when(F.col("lang") == lang, value)
    for lang, value in rest:
        out = out.when(F.col("lang") == lang, value)
    return out


def extract_mentions(files: DataFrame) -> DataFrame:
    """``(repo, path, commit, lang, content, ...)`` →
    ``(repo, path, lang, kind, name)`` mention rows; a language without
    rules yields none.

    Rule slot ``i`` (the ``i``-th rule of each language) is one
    ``(kind, regexp_extract_all(content, rule))`` pair picked by
    ``lang``; ``stack`` turns a file's slots into rows and ``explode``
    their matches into mentions. Both generators, and every expression
    in them, are code-generated, so the scan, the matching and the
    expansion run as one whole-stage function."""
    slots = [
        {lang: rules[i] for lang, rules in PATTERNS.items() if i < len(rules)}
        for i in range(max(map(len, PATTERNS.values())))
    ]
    pairs: list[Column] = []
    for slot in slots:
        pairs.append(_by_lang({lang: F.lit(kind) for lang, (kind, _) in slot.items()}))
        pairs.append(_by_lang({lang: _matches(pat) for lang, (_, pat) in slot.items()}))
    return files.select(
        "repo", "path", "lang", F.stack(F.lit(len(slots)), *pairs).alias("kind", "names")
    ).select("repo", "path", "lang", "kind", F.explode("names").alias("name"))


def extract_mentions_py(lang: str, content: str) -> list[tuple[str, str]]:
    """Pure-Python oracle twin: ``[(kind, name)]`` in scan order."""
    out: list[tuple[str, str]] = []
    for kind, rx in _COMPILED.get(lang, []):
        for m in rx.finditer(content):
            out.append((kind, m.group(1)))
    return out
