"""KG construction: repo table → canonicalized quad DataFrame.

The end-to-end declarative plan (north rule: triple extraction → entity
linking → canonicalization → graph materialize):

1. **ingest** — add the per-row ``sha256(content)`` invariant column
   (``F.sha2``, JVM-side) and mint deterministic IRIs:
   ``ns#<kind>-sha256(key)`` — namespace + sha256 minting matching the
   reference's ``NewResourceTerm`` construction (triple.go:16-18): the
   final encoded term is ``<`` + minted URI + ``>``.
2. **extract** — mention detection (extract.py, one JVM projection:
   a ``regexp_extract_all`` per grammar rule, no Python worker).
3. **link** — broadcast dictionary scoring (link.py, no shuffle).
4. **emit** — entity/edge triples as single-pass explode plans: each
   source row produces an array of (subj, pred, obj) structs that explodes
   into quad rows — one scan per entity family, all Catalyst expressions.
   Emission *rules* mirror ``OntologyIndividual.ToTriples``
   (ontology_individual.go:34-101): marker triple first, then types,
   sameAs, object properties, data properties, labels.
5. **canonicalize** — connected components over ``owl:sameAs`` edges +
   broadcast rewrite (canon.py).

The returned DataFrame is unexecuted — callers merge it into a store
(``QuadStoreBase.merge_df``) or hand it to materialize.py for the salted,
manifest-tracked write.
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from ontograph_spark import vocab
from ontograph_spark.functions import graph_algo
from ontograph_spark.ontology.resources import (
    OntologyClass,
    OntologyDataProperty,
    OntologyObjectProperty,
)
from ontograph_spark.pipeline.canon import (
    canonical_mapping,
    rewrite_terms,
    union_find_mapping,
)
from ontograph_spark.pipeline.extract import extract_mentions
from ontograph_spark.pipeline.link import (
    link_imports,
    module_dictionary,
    same_as_pairs,
)
from ontograph_spark.store.base import QUAD_SCHEMA
from ontograph_spark.terms import literal_term, local_frame, mk_resource, resource_term

DEFAULT_GRAPH = "https://ontograph.dev/code"

#: declaration kind -> ontology class local name
DECL_CLASS = {"func": "Function", "type": "Type", "class": "Class"}


@dataclass(frozen=True)
class Ont:
    """Ontology term URIs for a given graph namespace."""

    ns: str

    def uri(self, local: str) -> str:
        return f"{self.ns}#{local}"

    def term(self, local: str) -> str:
        return mk_resource(self.uri(local))


ONT = Ont(DEFAULT_GRAPH)


# -- minting ----------------------------------------------------------------


#: minted-digest width in hex chars: 128 bits — birthday-safe at 10^12
#: entities (collision odds ~1e-15) at half the term bytes of full sha256,
#: which directly cuts every downstream shuffle and scan.
MINT_HEX = 32


def mint_uri_col(ns: str, kind: str, key: Column) -> Column:
    """Deterministic IRI: ``ns#<kind>-sha256(key)[:MINT_HEX]`` (Column
    form) — namespace + sha256 minting per the north rule."""
    return F.concat(
        F.lit(f"{ns}#{kind}-"), F.substring(F.sha2(key, 256), 1, MINT_HEX)
    )


def mint_uri_py(ns: str, kind: str, key: str) -> str:
    """Pure-Python twin of :func:`mint_uri_col`."""
    return f"{ns}#{kind}-{hashlib.sha256(key.encode()).hexdigest()[:MINT_HEX]}"


def _sha_key(*cols: str) -> Column:
    return F.concat_ws("|", *[F.col(c) for c in cols])


# -- single-pass emitters ---------------------------------------------------


def _emit(df: DataFrame, graph_uri: str, triples: list[tuple[Column, Column, Column]]) -> DataFrame:
    """Explode an array of (subj,pred,obj) structs into quad rows — one
    pass over ``df`` regardless of how many triples each row emits."""
    arr = F.array(
        *[
            F.struct(s.alias("subj"), p.alias("pred"), o.alias("obj"))
            for s, p, o in triples
        ]
    )
    return (
        df.select(F.explode(arr).alias("t"))
        .select(
            F.col("t.subj").alias("subj"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
            F.lit(graph_uri).alias("graph"),
        )
    )


def _r(uri: str) -> Column:
    return F.lit(mk_resource(uri))


def _xsd_str(c: Column) -> Column:
    return literal_term(c, None, vocab.XSD_STRING)


def ingest(files: DataFrame, graph_uri: str) -> DataFrame:
    """Add the sha256 ingest-invariant and minted IRIs (all JVM-side)."""
    ns = graph_uri
    return files.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.sha2(F.col("content"), 256).alias("sha256"),
        mint_uri_col(ns, "file", _sha_key("repo", "path")).alias("file_uri"),
        mint_uri_col(ns, "repo", F.col("repo")).alias("repo_uri"),
    )


def emit_file_quads(ingested: DataFrame, graph_uri: str) -> DataFrame:
    ont = Ont(graph_uri)
    s = resource_term("file_uri")
    rdf_type = _r(vocab.RDF_TYPE)
    return _emit(
        ingested,
        graph_uri,
        [
            (s, rdf_type, _r(vocab.OWL_NAMED_INDIVIDUAL)),
            (s, rdf_type, F.lit(ont.term("File"))),
            (s, F.lit(ont.term("inRepo")), resource_term("repo_uri")),
            (s, F.lit(ont.term("path")), _xsd_str(F.col("path"))),
            (s, F.lit(ont.term("lang")), _xsd_str(F.col("lang"))),
            (s, F.lit(ont.term("commitId")), _xsd_str(F.col("commit"))),
            (s, F.lit(ont.term("checksum")), _xsd_str(F.col("sha256"))),
        ],
    )


def emit_repo_quads(ingested: DataFrame, graph_uri: str) -> DataFrame:
    ont = Ont(graph_uri)
    repos = ingested.select("repo", "repo_uri").distinct()
    s = resource_term("repo_uri")
    rdf_type = _r(vocab.RDF_TYPE)
    return _emit(
        repos,
        graph_uri,
        [
            (s, rdf_type, _r(vocab.OWL_NAMED_INDIVIDUAL)),
            (s, rdf_type, F.lit(ont.term("Repository"))),
            (s, _r(vocab.RDFS_LABEL), literal_term(F.col("repo"))),
        ],
    )


def emit_decl_quads(mentions: DataFrame, graph_uri: str) -> DataFrame:
    """Function/type/class declarations: entity + ``declares`` edge."""
    ont = Ont(graph_uri)
    ns = graph_uri
    decls = mentions.where(F.col("kind").isin(*DECL_CLASS.keys())).select(
        "repo",
        "path",
        "kind",
        "name",
        mint_uri_col(ns, "decl", _sha_key("repo", "path", "kind", "name")).alias(
            "decl_uri"
        ),
        mint_uri_col(ns, "file", _sha_key("repo", "path")).alias("file_uri"),
    )
    s = resource_term("decl_uri")
    rdf_type = _r(vocab.RDF_TYPE)
    cls_term = F.concat(
        F.lit(f"<{ns}#"),
        F.when(F.col("kind") == "func", F.lit("Function"))
        .when(F.col("kind") == "type", F.lit("Type"))
        .otherwise(F.lit("Class")),
        F.lit(">"),
    )
    return _emit(
        decls,
        graph_uri,
        [
            (s, rdf_type, _r(vocab.OWL_NAMED_INDIVIDUAL)),
            (s, rdf_type, cls_term),
            (s, _r(vocab.RDFS_LABEL), literal_term(F.col("name"))),
            (resource_term("file_uri"), F.lit(ont.term("declares")), s),
        ],
    )


def emit_import_quads(linked: DataFrame, graph_uri: str) -> DataFrame:
    """``imports`` edges from file to module (surface-name entity)."""
    ont = Ont(graph_uri)
    ns = graph_uri
    rows = linked.select(
        mint_uri_col(ns, "file", _sha_key("repo", "path")).alias("file_uri"),
        mint_uri_col(ns, "module", F.col("name")).alias("module_uri"),
    )
    return _emit(
        rows,
        graph_uri,
        [
            (
                resource_term("file_uri"),
                F.lit(ont.term("imports")),
                resource_term("module_uri"),
            )
        ],
    )


def emit_module_quads(linked: DataFrame, same_as: DataFrame, graph_uri: str) -> DataFrame:
    """Module entities for every surface name and every canonical target,
    plus the ``owl:sameAs`` alias edges."""
    ont = Ont(graph_uri)
    ns = graph_uri
    names = (
        linked.select(F.col("name"))
        .unionByName(same_as.select(F.col("canonical").alias("name")))
        .distinct()
        .select("name", mint_uri_col(ns, "module", F.col("name")).alias("module_uri"))
    )
    s = resource_term("module_uri")
    rdf_type = _r(vocab.RDF_TYPE)
    entity_quads = _emit(
        names,
        graph_uri,
        [
            (s, rdf_type, _r(vocab.OWL_NAMED_INDIVIDUAL)),
            (s, rdf_type, F.lit(ont.term("Module"))),
            (s, _r(vocab.RDFS_LABEL), literal_term(F.col("name"))),
        ],
    )
    alias_edges = _emit(
        same_as.select(
            mint_uri_col(ns, "module", F.col("name")).alias("src_uri"),
            mint_uri_col(ns, "module", F.col("canonical")).alias("dst_uri"),
        ),
        graph_uri,
        [
            (
                resource_term("src_uri"),
                _r(vocab.OWL_SAME_AS),
                resource_term("dst_uri"),
            )
        ],
    )
    return entity_quads.unionByName(alias_edges)


def emit_repo_ref_quads(mentions: DataFrame, graph_uri: str) -> DataFrame:
    ont = Ont(graph_uri)
    ns = graph_uri
    refs = mentions.where(F.col("kind") == "repo_ref").select(
        mint_uri_col(ns, "file", _sha_key("repo", "path")).alias("file_uri"),
        mint_uri_col(ns, "repo", F.col("name")).alias("ref_uri"),
    )
    return _emit(
        refs,
        graph_uri,
        [
            (
                resource_term("file_uri"),
                F.lit(ont.term("refersToRepo")),
                resource_term("ref_uri"),
            )
        ],
    )


def schema_quads(spark: SparkSession, graph_uri: str) -> DataFrame:
    """The ontology schema itself, emitted through the reference-shaped
    resource dataclasses (driver-side; it is tiny)."""
    ont = Ont(graph_uri)
    resources = [
        OntologyClass(uri=ont.uri("File"), label={"": "Source file"}),
        OntologyClass(uri=ont.uri("Repository"), label={"": "Repository"}),
        OntologyClass(uri=ont.uri("Module"), label={"": "Module"}),
        OntologyClass(uri=ont.uri("Function"), label={"": "Function"}),
        OntologyClass(uri=ont.uri("Type"), label={"": "Type"}),
        OntologyClass(uri=ont.uri("Class"), label={"": "Class"}),
        OntologyObjectProperty(
            uri=ont.uri("inRepo"),
            domains=[ont.uri("File")],
            ranges=[ont.uri("Repository")],
            is_functional=True,
        ),
        OntologyObjectProperty(
            uri=ont.uri("imports"),
            domains=[ont.uri("File")],
            ranges=[ont.uri("Module")],
        ),
        OntologyObjectProperty(
            uri=ont.uri("declares"),
            domains=[ont.uri("File")],
        ),
        OntologyObjectProperty(
            uri=ont.uri("refersToRepo"),
            domains=[ont.uri("File")],
            ranges=[ont.uri("Repository")],
        ),
        OntologyDataProperty(uri=ont.uri("path"), is_functional=True),
        OntologyDataProperty(uri=ont.uri("lang"), is_functional=True),
        OntologyDataProperty(uri=ont.uri("commitId"), is_functional=True),
        OntologyDataProperty(uri=ont.uri("checksum"), is_functional=True),
    ]
    rows = [
        (t.subject, t.predicate, t.object, graph_uri)
        for r in resources
        for t in r.to_triples()
    ]
    rows.append(
        (
            mk_resource(graph_uri),
            mk_resource(vocab.RDF_TYPE),
            mk_resource(vocab.OWL_ONTOLOGY),
            graph_uri,
        )
    )
    return local_frame(spark, rows, QUAD_SCHEMA)


# -- orchestration ----------------------------------------------------------


def construct_kg(
    spark: SparkSession,
    files: DataFrame,
    graph_uri: str = DEFAULT_GRAPH,
    canonicalize: bool = True,
    include_schema: bool = True,
) -> DataFrame:
    """Full construction plan; returns the (deduplicated) quad DataFrame.

    Action discipline: one Spark action runs in here when
    ``canonicalize`` is set (none otherwise) — a bounded ``take`` of the
    distinct alias pairs (tiny: bounded by the alias vocabulary, not the
    corpus). It also materializes the mentions and linked caches as a
    side effect, so the caller's write is the only other action. Spark
    runs that one action as several jobs: adaptive execution submits
    each shuffle stage of the ``take``'s plan as its own job, and ``take``
    may scan further partitions in follow-up jobs (8 jobs for a
    40,000-row table at ``local[3]``). An alias-pair set over
    ``graph_algo.DRIVER_EDGE_LIMIT`` adds the distributed
    connected-components rounds (canon.canonical_mapping).
    Job-submission barriers are pure serial time (they were ~half the
    wall at 500k rows before this restructure), so the count is part of
    the design, not an accident.

    The three staged ``DISK_ONLY`` caches stay persisted after the call
    and belong to the caller; :func:`constructed` releases them.
    """
    return _construct(spark, files, graph_uri, canonicalize, include_schema)[0]


@contextmanager
def constructed(
    spark: SparkSession,
    files: DataFrame,
    graph_uri: str = DEFAULT_GRAPH,
    canonicalize: bool = True,
    include_schema: bool = True,
) -> Iterator[DataFrame]:
    """:func:`construct_kg` as the owner of its staged caches: yields the
    quads and unpersists the caches on exit, so write or merge the quads
    inside the ``with`` block."""
    quads, caches = _construct(spark, files, graph_uri, canonicalize, include_schema)
    try:
        yield quads
    finally:
        for c in caches:
            c.unpersist()


def _construct(
    spark: SparkSession,
    files: DataFrame,
    graph_uri: str,
    canonicalize: bool,
    include_schema: bool,
) -> tuple[DataFrame, list[DataFrame]]:
    ns = graph_uri
    ingested = ingest(files, ns)
    # Stage the ingest: file metadata (with the sha256 invariant, without
    # content) is tiny and feeds several emitters — cache it so the
    # content column is scanned exactly twice overall (sha256 pass +
    # mention-extraction pass), never once per emitter branch. The cache
    # materializes lazily inside the caller's write job.
    meta = ingested.drop("content").persist(StorageLevel.DISK_ONLY)
    # Dedup mentions at the source (one small shuffle) so every emitter
    # produces set-distinct rows by construction — the expensive global
    # dedup over the full quad stream disappears.
    mentions = (
        extract_mentions(ingested)
        .dropDuplicates(["repo", "path", "kind", "name"])
        .persist(StorageLevel.DISK_ONLY)
    )
    linked = link_imports(mentions, module_dictionary(spark)).persist(
        StorageLevel.DISK_ONLY
    )
    pairs = same_as_pairs(linked)

    # The one action: pull the distinct alias pairs to the driver
    # (bounded take — materializes mentions+linked caches en route) and
    # solve canonicalization with union-find on minted terms, identical
    # to canon.canonical_mapping's driver path. Oversized pair sets
    # (adversarial alias graphs) take the distributed CC path instead.
    limit = graph_algo.DRIVER_EDGE_LIMIT
    pair_rows = pairs.take(limit + 1) if canonicalize else []

    # Branch split: module IRIs appear ONLY in the import-edge and
    # module-entity branches — canonicalization rewrites (and re-dedups)
    # just those; every other branch is already distinct and untouched.
    # Invariant: (repo, path) is the input's primary key (re-ingesting the
    # same file twice goes through the MERGE path, not through here).
    plain = (
        emit_file_quads(meta, ns)
        .unionByName(emit_repo_quads(meta, ns))
        .unionByName(emit_decl_quads(mentions, ns))
        .unionByName(emit_repo_ref_quads(mentions, ns))
    )
    if include_schema:
        plain = plain.unionByName(schema_quads(spark, ns))

    module_branch = emit_import_quads(linked, ns).unionByName(
        emit_module_quads(linked, pairs, ns)
    )
    if canonicalize:
        if len(pair_rows) <= limit:
            edge_tuples = [
                (
                    mk_resource(mint_uri_py(ns, "module", r["name"])),
                    mk_resource(mint_uri_py(ns, "module", r["canonical"])),
                )
                for r in pair_rows
                # same_as_pairs' predicates filter nulls today; guard so an
                # upstream change can't crash the driver path on None.encode
                if r["name"] is not None and r["canonical"] is not None
            ]
            mapping_rows = union_find_mapping(edge_tuples)
            if mapping_rows:
                mapping = local_frame(
                    spark, mapping_rows, "node string, component string"
                )
                module_branch = rewrite_terms(module_branch, mapping)
        else:
            edges = pairs.select(
                resource_term(mint_uri_col(ns, "module", F.col("name"))).alias(
                    "src"
                ),
                resource_term(
                    mint_uri_col(ns, "module", F.col("canonical"))
                ).alias("dst"),
            )
            # size already probed by the take above — skip the driver path
            # (and its second bounded take) outright
            module_branch = rewrite_terms(
                module_branch, canonical_mapping(edges, assume_large=True)
            )
    module_branch = module_branch.dropDuplicates(
        ["subj", "pred", "obj", "graph"]
    )

    return plain.unionByName(module_branch), [meta, mentions, linked]
