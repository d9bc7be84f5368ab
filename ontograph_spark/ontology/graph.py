"""OntologyGraph: the high-level ontology API over a quad store.

Mirrors the reference API (/root/reference/ontology_graph.go) with the same
observable semantics, but replaces its per-operation round trips with
set-based DataFrame plans:

* ``get_individuals`` — the reference's O(n·m) nested-loop subject
  intersection plus N+1 per-candidate hydration (ontology_graph.go:560-578,
  601-610) becomes: semi-join chain per AND group, union-distinct across OR
  groups, then ONE grouped fold over a single semi-join — two shuffles
  total, independent of candidate count.
* ``upsert_resource(s)`` — delete-by-subject/object + insert in one commit
  via :meth:`QuadStoreBase.upsert_subjects` (the MERGE-shaped write path).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontograph_spark import vocab
from ontograph_spark.errors import (
    OntologyAlreadyExistsError,
    OntologyNotFoundError,
    ResourceDoesNotBelongToGraphError,
    ResourceNotFoundError,
)
from ontograph_spark.ontology.literals import GenericLiteral
from ontograph_spark.ontology.resources import (
    OntologyClass,
    OntologyDataProperty,
    OntologyDatatype,
    OntologyIndividual,
    OntologyObjectProperty,
    OntologyResource,
    Triple,
    fold_class,
    fold_data_property,
    fold_datatype,
    fold_individual,
    fold_object_property,
)
from ontograph_spark.store.base import QUAD_SCHEMA, QuadStoreBase, pattern_filter
from ontograph_spark.terms import (
    local_frame,
    mk_literal,
    mk_resource,
    term_language,
    term_value,
)


@dataclass
class TripleFilter:
    """OR-of-AND triple-pattern filter (ontology_graph.go:619-715).

    ``groups`` is a list of AND groups; each pattern is a Triple whose empty
    subject acts as the wildcard."""

    groups: list[list[Triple]] = field(default_factory=list)

    def _or(self, pattern: Triple) -> TripleFilter:
        return TripleFilter(self.groups + [[pattern]])

    def _and(self, pattern: Triple) -> TripleFilter:
        groups = [list(g) for g in self.groups] or [[]]
        groups[-1].append(pattern)
        return TripleFilter(groups)

    def or_with_class(self, class_uri: str) -> TripleFilter:
        return self._or(
            Triple("", mk_resource(vocab.RDF_TYPE), mk_resource(class_uri))
        )

    def and_with_class(self, class_uri: str) -> TripleFilter:
        return self._and(
            Triple("", mk_resource(vocab.RDF_TYPE), mk_resource(class_uri))
        )

    def or_with_object_property(self, prop_uri: str, object_uri: str) -> TripleFilter:
        return self._or(Triple("", mk_resource(prop_uri), mk_resource(object_uri)))

    def and_with_object_property(self, prop_uri: str, object_uri: str) -> TripleFilter:
        return self._and(Triple("", mk_resource(prop_uri), mk_resource(object_uri)))

    def or_with_data_property(
        self, prop_uri: str, literal: GenericLiteral
    ) -> TripleFilter:
        return self._or(Triple("", mk_resource(prop_uri), literal.term))

    def and_with_data_property(
        self, prop_uri: str, literal: GenericLiteral
    ) -> TripleFilter:
        return self._and(Triple("", mk_resource(prop_uri), literal.term))


class OntologyGraph:
    """Use :meth:`init` or :meth:`load` (ontology_graph.go:19-99).

    Works over ANY GraphStore backend — mirroring the reference, whose
    ``OntologyGraph`` runs over both the in-memory and the Blazegraph
    store (graph_store.go:9-50; ontology_graph_test.go exercises both):

    * quad-table backends (:class:`QuadStoreBase` subclasses) get the
      distributed DataFrame plans (semi-join chains, grouped folds,
      single-commit upserts);
    * remote backends (:class:`~ontograph_spark.store.sparql_store.
      SparqlQuadStore`) get driver-side execution over the same operator
      surface — per-candidate reads stay per-candidate (the endpoint's
      own optimizer handles each pattern), exactly like the reference's
      Blazegraph path, but the subject-set intersection uses hash sets
      rather than the reference's O(n·m) nested loop.
    """

    def __init__(self, store) -> None:
        self.store = store
        self._label: dict[str, str] = {}
        self._comment: dict[str, str] = {}

    def _spark_store(self) -> QuadStoreBase | None:
        """The quad-table backend, if this graph runs over one."""
        return self.store if isinstance(self.store, QuadStoreBase) else None

    # -- constructors -----------------------------------------------------

    @classmethod
    def init(cls, store: QuadStoreBase) -> OntologyGraph:
        marker = Triple(
            mk_resource(store.get_uri()),
            mk_resource(vocab.RDF_TYPE),
            mk_resource(vocab.OWL_ONTOLOGY),
        )
        if store.get_first_match(*marker.as_tuple()) is not None:
            raise OntologyAlreadyExistsError()
        store.add_triple_unchecked(marker)
        return cls(store)

    @classmethod
    def load(cls, store: QuadStoreBase) -> OntologyGraph:
        marker = Triple(
            mk_resource(store.get_uri()),
            mk_resource(vocab.RDF_TYPE),
            mk_resource(vocab.OWL_ONTOLOGY),
        )
        if store.get_first_match(*marker.as_tuple()) is None:
            raise OntologyNotFoundError()
        ont = cls(store)
        subj = mk_resource(store.get_uri())
        for t in store.get_all_matches(subj, mk_resource(vocab.RDFS_LABEL), ""):
            ont._label[term_language(t.object)] = term_value(t.object)
        for t in store.get_all_matches(subj, mk_resource(vocab.RDFS_COMMENT), ""):
            ont._comment[term_language(t.object)] = term_value(t.object)
        return ont

    def get_uri(self) -> str:
        return self.store.get_uri()

    # -- ontology header (ontology_graph.go:107-242) ----------------------

    def get_version(self) -> str:
        t = self.store.get_first_match(
            mk_resource(self.get_uri()), mk_resource(vocab.OWL_VERSION_INFO), ""
        )
        return term_value(t.object) if t else ""

    def set_version(self, version: str) -> None:
        """Delete-then-add upsert (ontology_graph.go:125-141)."""
        self.store.delete_all_matches(
            mk_resource(self.get_uri()), mk_resource(vocab.OWL_VERSION_INFO), ""
        )
        self.store.add_triple_unchecked(
            Triple(
                mk_resource(self.get_uri()),
                mk_resource(vocab.OWL_VERSION_INFO),
                mk_literal(version, "", ""),
            )
        )

    def get_imports(self) -> list[str]:
        return [
            term_value(t.object)
            for t in self.store.get_all_matches(
                mk_resource(self.get_uri()), mk_resource(vocab.OWL_IMPORTS), ""
            )
        ]

    def add_import(self, uri: str) -> None:
        """Checked add — errors on duplicate import (ontology_graph.go:163-170)."""
        self.store.add_triple(
            Triple(
                mk_resource(self.get_uri()),
                mk_resource(vocab.OWL_IMPORTS),
                mk_resource(uri),
            )
        )

    def _set_annotation(
        self, cache: dict[str, str], pred_uri: str, value: str, lang: str
    ) -> None:
        if lang in cache:
            self.store.delete_triple_unchecked(
                Triple(
                    mk_resource(self.get_uri()),
                    mk_resource(pred_uri),
                    mk_literal(cache[lang], lang, ""),
                )
            )
            del cache[lang]
        if value == "":
            return
        self.store.add_triple_unchecked(
            Triple(
                mk_resource(self.get_uri()),
                mk_resource(pred_uri),
                mk_literal(value, lang, ""),
            )
        )
        cache[lang] = value

    def set_label(self, label: str, lang: str) -> None:
        self._set_annotation(self._label, vocab.RDFS_LABEL, label, lang)

    def get_label(self, lang: str) -> str:
        return self._label.get(lang, "")

    def set_comment(self, comment: str, lang: str) -> None:
        self._set_annotation(self._comment, vocab.RDFS_COMMENT, comment, lang)

    def get_comment(self, lang: str) -> str:
        return self._comment.get(lang, "")

    # -- resource write path (ontology_graph.go:267-287) ------------------

    def _guard_namespace(self, uri: str) -> None:
        if uri[: uri.rfind("#")] != self.get_uri():
            raise ResourceDoesNotBelongToGraphError()

    def upsert_resource(self, resource: OntologyResource) -> None:
        self.upsert_resources([resource])

    def upsert_resources(self, resources: list[OntologyResource]) -> None:
        """Vectorized upsert: all resources validated, then the write.

        Quad-table backends do ONE commit that deletes each subject's old
        rows (as subject and as object) and inserts all new triples —
        per-resource this matches UpsertResource's observable post-state.
        Remote backends run the reference's own sequence per resource
        (delete-by-subject, delete-by-object, bulk unchecked insert —
        ontology_graph.go:267-287): the endpoint is the unit of commit
        there."""
        if not resources:
            return
        for r in resources:
            self._guard_namespace(r.get_uri())
        store = self._spark_store()
        if store is None:
            for r in resources:
                term = mk_resource(r.get_uri())
                self.store.delete_all_matches(term, "", "")
                self.store.delete_all_matches("", "", term)
                self.store.add_triples_unchecked(r.to_triples())
            return
        spark = store.spark
        g = self.get_uri()
        subjects = local_frame(
            spark, [(mk_resource(r.get_uri()),) for r in resources], "subj string"
        )
        rows = [
            (t.subject, t.predicate, t.object, g)
            for r in resources
            for t in r.to_triples()
        ]
        quads = local_frame(spark, rows, QUAD_SCHEMA)
        store.upsert_subjects(subjects, quads)

    def delete_resource(self, uri: str) -> None:
        """Delete all rows with the URI as subject, then as object
        (referential cleanup) — one pass on quad-table backends, two
        DELETE WHERE updates on remote ones (ontology_graph.go:279-287)."""
        term = mk_resource(uri)
        store = self._spark_store()
        if store is None:
            self.store.delete_all_matches(term, "", "")
            self.store.delete_all_matches("", "", term)
            return
        subjects = local_frame(store.spark, [(term,)], "subj string")
        empty = local_frame(store.spark, [], QUAD_SCHEMA)
        store.upsert_subjects(subjects, empty)

    # -- resource read path (ontology_graph.go:290-514) -------------------

    def _subject_pairs(self, uri: str) -> list[tuple[str, str]]:
        # get_all_matches is the shared operator surface (one scan on a
        # quad-table backend, one SELECT on a remote one)
        rows = self.store.get_all_matches(mk_resource(uri), "", "")
        return [(t.predicate, t.object) for t in rows]

    def get_class(self, uri: str) -> OntologyClass:
        res = fold_class(uri, self._subject_pairs(uri))
        if res is None:
            raise ResourceNotFoundError()
        return res

    def get_object_property(self, uri: str) -> OntologyObjectProperty:
        res = fold_object_property(uri, self._subject_pairs(uri))
        if res is None:
            raise ResourceNotFoundError()
        return res

    def get_data_property(self, uri: str) -> OntologyDataProperty:
        res = fold_data_property(uri, self._subject_pairs(uri))
        if res is None:
            raise ResourceNotFoundError()
        return res

    def get_datatype(self, uri: str) -> OntologyDatatype:
        res = fold_datatype(uri, self._subject_pairs(uri))
        if res is None:
            raise ResourceNotFoundError()
        return res

    def get_individual(self, uri: str) -> OntologyIndividual:
        res = fold_individual(uri, self._subject_pairs(uri))
        if res is None:
            raise ResourceNotFoundError()
        return res

    # -- the flagship query (ontology_graph.go:532-611) -------------------

    def candidates_df(self, filters: TripleFilter | None = None) -> DataFrame:
        """Distinct candidate subject terms as a DataFrame (column ``subj``).

        nil filter → all subjects of ``? rdf:type owl:NamedIndividual``;
        else per OR group a left-semi join chain intersects the AND
        patterns' subject sets, and groups union with distinct. Replaces
        the reference's nested-loop intersect + linear-scan dedup.
        Quad-table backends only; remote stores use the driver-side path
        inside :meth:`get_individuals`."""
        if self._spark_store() is None:
            raise TypeError(
                "candidates_df/individuals_df need a quad-table backend; "
                "use get_individuals(), which works on any GraphStore"
            )
        if filters is None or not filters.groups:
            return (
                self.store.match_df(
                    "",
                    mk_resource(vocab.RDF_TYPE),
                    mk_resource(vocab.OWL_NAMED_INDIVIDUAL),
                )
                .select("subj")
                .distinct()
            )
        result: DataFrame | None = None
        for group in filters.groups:
            group_df: DataFrame | None = None
            for pat in group:
                m = (
                    self.store.match_df(pat.subject, pat.predicate, pat.object)
                    .select("subj")
                    .distinct()
                )
                group_df = m if group_df is None else group_df.join(
                    m, on="subj", how="left_semi"
                )
            if group_df is not None:
                result = group_df if result is None else result.unionByName(group_df)
        assert result is not None
        return result.distinct()

    def individuals_df(self, filters: TripleFilter | None = None) -> DataFrame:
        """Hydration plan: one semi-join + one grouped fold —
        ``(subj, pairs: array<struct<pred,obj>>)``."""
        cands = self.candidates_df(filters)
        return (
            self.store.df()
            .join(cands, on="subj", how="left_semi")
            .groupBy("subj")
            .agg(
                F.collect_list(F.struct(F.col("pred"), F.col("obj"))).alias("pairs")
            )
        )

    def get_individuals(
        self, filters: TripleFilter | None = None
    ) -> list[OntologyIndividual]:
        if self._spark_store() is None:
            return self._get_individuals_local(filters)
        out: list[OntologyIndividual] = []
        for row in self.individuals_df(filters).collect():
            pairs = [(p["pred"], p["obj"]) for p in row["pairs"]]
            indiv = fold_individual(term_value(row["subj"]), pairs)
            if indiv is None:
                # candidate matched the filter but lacks the NamedIndividual
                # marker — the reference's per-candidate GetIndividual would
                # error here (ontology_graph.go:601-610)
                raise ResourceNotFoundError()
            out.append(indiv)
        return out

    def _get_individuals_local(
        self, filters: TripleFilter | None
    ) -> list[OntologyIndividual]:
        """Driver-side GetIndividuals for remote backends: one pattern
        query per filter pattern, hash-set intersection per AND group
        (replacing the reference's O(n·m) nested loop,
        ontology_graph.go:560-578), set union across OR groups, then
        per-candidate hydration — the endpoint optimizes each pattern;
        the reference's Blazegraph path has the same read shape."""
        if filters is None or not filters.groups:
            cands = {
                t.subject
                for t in self.store.get_all_matches(
                    "",
                    mk_resource(vocab.RDF_TYPE),
                    mk_resource(vocab.OWL_NAMED_INDIVIDUAL),
                )
            }
        else:
            cands = set()
            for group in filters.groups:
                group_set: set[str] | None = None
                for pat in group:
                    subs = {
                        t.subject
                        for t in self.store.get_all_matches(
                            pat.subject, pat.predicate, pat.object
                        )
                    }
                    group_set = subs if group_set is None else group_set & subs
                    if not group_set:  # short circuit (lines 579-582)
                        break
                cands |= group_set or set()
        out: list[OntologyIndividual] = []
        for subj in sorted(cands):
            pairs = [
                (t.predicate, t.object)
                for t in self.store.get_all_matches(subj, "", "")
            ]
            indiv = fold_individual(term_value(subj), pairs)
            if indiv is None:
                raise ResourceNotFoundError()
            out.append(indiv)
        return out
