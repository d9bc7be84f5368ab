"""Entity linking against a broadcast ontology-term dictionary.

Import mentions are scored against a small dictionary of known module
terms (canonical names + alias forms). The dictionary is broadcast — the
join adds **no shuffle** to the mention stream, which is the only side
that is large at 100 TB. Scoring is a Catalyst expression (exact = 1.0,
alias = 0.9, normalized fallback = 0.75, unknown = 0.0); no Python runs
per row.

The linking result keeps the *surface* name as the entity key and records
the canonical target separately: canonicalization is the job of the
``owl:sameAs`` + connected-components stage (canon.py), mirroring how the
reference models aliasing (``SameIndividualAs`` →
``owl:sameAs`` edges, ontology_individual.go:53-60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontograph_spark.pipeline.repo_source import ALIASES, MODULES
from ontograph_spark.terms import local_frame

LINK_THRESHOLD = 0.5


def _normalize(c):
    return F.lower(F.regexp_replace(c, r"[-._]", ""))


def module_dictionary(spark: SparkSession) -> DataFrame:
    """(term, canonical, base_score): canonical names score 1.0, alias
    forms 0.9."""
    rows = [(m, m, 1.0) for m in MODULES] + [
        (a, c, 0.9) for a, c in ALIASES.items()
    ]
    return local_frame(
        spark, rows, "term string, canonical string, base_score double"
    )


def link_imports(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """``(repo, path, kind='import', name)`` →
    ``(repo, path, name, canonical, score)``.

    Unknown names fall back to a normalized broadcast probe; names that
    still miss keep themselves as canonical with score 0 (they become new
    module entities rather than being dropped — recall over precision at
    the linking stage; the threshold gates the sameAs edge only).
    """
    imports = mentions.where(F.col("kind") == "import")
    d_exact = F.broadcast(dictionary)
    d_norm = F.broadcast(
        dictionary.select(
            _normalize(F.col("term")).alias("nterm"),
            F.col("canonical").alias("ncanonical"),
        ).dropDuplicates(["nterm"])
    )
    linked = (
        imports.join(d_exact, imports["name"] == d_exact["term"], "left")
        .join(d_norm, _normalize(imports["name"]) == d_norm["nterm"], "left")
        .select(
            "repo",
            "path",
            "name",
            F.coalesce(F.col("canonical"), F.col("ncanonical"), F.col("name")).alias(
                "canonical"
            ),
            F.coalesce(
                F.col("base_score"),
                F.when(F.col("ncanonical").isNotNull(), F.lit(0.75)),
                F.lit(0.0),
            ).alias("score"),
        )
    )
    return linked


def same_as_pairs(linked: DataFrame) -> DataFrame:
    """Distinct (name, canonical) alias pairs whose link score clears the
    threshold — the input edges for connected components."""
    return (
        linked.where(
            (F.col("score") >= LINK_THRESHOLD)
            & (F.col("name") != F.col("canonical"))
        )
        .select("name", "canonical")
        .distinct()
    )
