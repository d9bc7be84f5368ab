"""RDFS/OWL forward-chaining entailment (ontology/inference.py).

Cross-checks the Spark closure against the DuckDB CTE twin on a fixture
built to exercise every rule AND their interactions (the flip of an
inherited edge, the subclass chain behind a range type, a 4-link
transitive chain), plus hand-pinned entailments for the corner cases.
"""

from __future__ import annotations

import duckdb
import pytest

from ontograph_spark import vocab
from ontograph_spark.ontology.inference import (
    rdfs_closure,
    rdfs_closure_sql_cte,
    rdfs_inferred,
    transitive_closure,
)

TYPE = f"<{vocab.RDF_TYPE}>"
SUBP = f"<{vocab.RDFS_SUB_PROPERTY_OF}>"
SUBC = f"<{vocab.RDFS_SUB_CLASS_OF}>"
DOM = f"<{vocab.RDFS_DOMAIN}>"
RNG = f"<{vocab.RDFS_RANGE}>"
INV = f"<{vocab.OWL_INVERSE_OF}>"
SYM = f"<{vocab.OWL_SYMMETRIC_PROPERTY}>"
TRA = f"<{vocab.OWL_TRANSITIVE_PROPERTY}>"

E = "<urn:t#{}>".format

SCHEMA = [
    # class chain: Cat ⊑ Mammal ⊑ Animal
    (E("Cat"), SUBC, E("Mammal")),
    (E("Mammal"), SUBC, E("Animal")),
    # property chain: hasPet ⊑ keeps ⊑ relatedTo
    (E("hasPet"), SUBP, E("keeps")),
    (E("keeps"), SUBP, E("relatedTo")),
    # relatedTo is symmetric — an INHERITED edge must get mirrored
    (E("relatedTo"), TYPE, SYM),
    # hasPet's inverse; domain/range on the SUPERproperty
    (E("hasPet"), INV, E("petOf")),
    (E("keeps"), DOM, E("Keeper")),
    (E("keeps"), RNG, E("Kept")),
    (E("Kept"), SUBC, E("Possession")),
    # transitive containment with a 4-link chain
    (E("inside"), TYPE, TRA),
]

DATA = [
    (E("ann"), E("hasPet"), E("rex")),
    (E("rex"), TYPE, E("Cat")),
    (E("a"), E("inside"), E("b")),
    (E("b"), E("inside"), E("c")),
    (E("c"), E("inside"), E("d")),
    (E("d"), E("inside"), E("e")),
    # a literal object: range typing must skip it
    (E("ann"), E("keeps"), '"a diary"'),
]


def _quads(spark):
    rows = [(s, p, o, "urn:t") for s, p, o in SCHEMA + DATA]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )


@pytest.fixture(scope="module")
def closure_rows(spark):
    df = rdfs_closure(_quads(spark))
    return {tuple(r) for r in df.collect()}


def test_matches_duckdb_twin(spark, closure_rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE quads AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?, ?)" for _ in SCHEMA + DATA)
        + ") t(subj, pred, obj)",
        [v for row in SCHEMA + DATA for v in row],
    )
    cte = rdfs_closure_sql_cte(
        schema_values_sql="SELECT subj, pred, obj FROM quads WHERE 1=0"
    )
    got = con.execute(
        f"WITH {cte} SELECT subj, pred, obj FROM closure_final"
    ).fetchall()
    assert {tuple(r) for r in got} == closure_rows


def test_interaction_entailments(closure_rows):
    # rdfs7 chain: hasPet ⇒ keeps ⇒ relatedTo
    assert (E("ann"), E("keeps"), E("rex")) in closure_rows
    assert (E("ann"), E("relatedTo"), E("rex")) in closure_rows
    # symmetric mirror of the INHERITED relatedTo edge
    assert (E("rex"), E("relatedTo"), E("ann")) in closure_rows
    # inverse flip
    assert (E("rex"), E("petOf"), E("ann")) in closure_rows
    # domain/range on the superproperty type the original edge's ends
    assert (E("ann"), TYPE, E("Keeper")) in closure_rows
    assert (E("rex"), TYPE, E("Kept")) in closure_rows
    # rdfs9 through the range type's subclass edge
    assert (E("rex"), TYPE, E("Possession")) in closure_rows
    # rdfs9 over the class chain
    assert (E("rex"), TYPE, E("Animal")) in closure_rows
    # rdfs5 transitive subPropertyOf
    assert (E("hasPet"), SUBP, E("relatedTo")) in closure_rows
    # owl:TransitiveProperty 4-link chain closed end to end
    assert (E("a"), E("inside"), E("e")) in closure_rows


def test_range_skips_literals(closure_rows):
    assert ('"a diary"', TYPE, E("Kept")) not in closure_rows
    # but domain still types the subject
    assert (E("ann"), TYPE, E("Keeper")) in closure_rows


def test_inferred_excludes_asserted(spark):
    quads = _quads(spark)
    inferred = {tuple(r) for r in rdfs_inferred(quads).collect()}
    asserted = {(s, p, o) for s, p, o in SCHEMA + DATA}
    assert inferred and not (inferred & asserted)
    assert (E("a"), E("inside"), E("e")) in inferred


def test_pure_rdfs_mode(spark):
    rows = {
        tuple(r) for r in rdfs_closure(_quads(spark), owl_rules=False).collect()
    }
    assert (E("ann"), E("relatedTo"), E("rex")) in rows  # rdfs7 still on
    assert (E("rex"), E("petOf"), E("ann")) not in rows  # no inverse
    assert (E("a"), E("inside"), E("e")) not in rows  # no transitivity


def test_transitive_closure_cycle_safe(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "sub string, sup string"
    )
    rows = {tuple(r) for r in transitive_closure(pairs).collect()}
    # full cycle minus reflexive self-pairs
    assert rows == {
        (s, t) for s in "abc" for t in "abc" if s != t
    }


def test_transitive_closure_frontier_path_exact(spark, monkeypatch):
    """With the driver limit patched below the relation's size, the
    closure runs the distributed frontier loop and is still exact."""
    from ontograph_spark.functions import graph_algo

    chain = [(f"n{i}", f"n{i+1}") for i in range(8)]
    pairs = spark.createDataFrame(chain, "sub string, sup string")
    monkeypatch.setattr(graph_algo, "DRIVER_EDGE_LIMIT", 5)
    rows = {tuple(r) for r in transitive_closure(pairs).collect()}
    expect = {(f"n{i}", f"n{j}") for i in range(9) for j in range(i + 1, 9)}
    assert rows == expect


def test_rdfs_closure_nonconvergence_raises(spark):
    """The edge-rule fixpoint must fail loudly, not return a silently
    truncated closure, when max_rounds runs out while a round still
    derives new triples: a 5-edge transitive chain needs more than one
    round."""
    from ontograph_spark.errors import FixpointNotConvergedError

    rows = [(E(f"n{i}"), E("inside"), E(f"n{i+1}")) for i in range(5)]
    rows.append((E("inside"), TYPE, TRA))
    quads = spark.createDataFrame(rows, "subj string, pred string, obj string")
    with pytest.raises(FixpointNotConvergedError, match="max_rounds=1"):
        rdfs_closure(quads, max_rounds=1)
    full = {tuple(r) for r in rdfs_closure(quads).collect()}
    assert (E("n0"), E("inside"), E("n5")) in full


def test_incremental_delta_matches_full_recompute(spark):
    """closure(base ∪ added) == closure(base) ∪ delta(closure(base),
    added) — the incremental-maintenance correctness invariant, on a
    delta that fires every rule family (inheritance chain, symmetric
    mirror of an inherited edge, transitive chain extension,
    domain/range typing, class-chain types)."""
    from ontograph_spark.ontology.inference import rdfs_closure_delta

    base_rows = [(s, p, o, "urn:t") for s, p, o in SCHEMA + DATA]
    base = spark.createDataFrame(
        base_rows, "subj string, pred string, obj string, graph string"
    )
    added_rows = [
        # extends the transitive chain at the far end
        (E("e"), E("inside"), E("f")),
        # a second pet: fires rdfs7 -> symmetric mirror -> dom/rng types
        (E("bob"), E("hasPet"), E("tom")),
        (E("tom"), TYPE, E("Cat")),
    ]
    added = spark.createDataFrame(
        added_rows, "subj string, pred string, obj string"
    )
    closure_base = rdfs_closure(base)
    delta = rdfs_closure_delta(closure_base, added)
    incremental = {
        tuple(r) for r in closure_base.collect()
    } | {tuple(r) for r in delta.collect()}

    full_rows = base_rows + [(s, p, o, "urn:t") for s, p, o in added_rows]
    full = rdfs_closure(
        spark.createDataFrame(
            full_rows, "subj string, pred string, obj string, graph string"
        )
    )
    assert incremental == {tuple(r) for r in full.collect()}
    # the delta itself is disjoint from the base closure
    assert not (
        {tuple(r) for r in delta.collect()}
        & {tuple(r) for r in closure_base.collect()}
    )
    # spot-check the long-range interaction: a->f needs the new edge
    assert (E("a"), E("inside"), E("f")) in incremental


def test_incremental_delta_rejects_schema_changes(spark):
    from ontograph_spark.ontology.inference import rdfs_closure_delta

    base = spark.createDataFrame(
        [(s, p, o, "urn:t") for s, p, o in SCHEMA + DATA],
        "subj string, pred string, obj string, graph string",
    )
    closure_base = rdfs_closure(base)
    bad = spark.createDataFrame(
        [(E("NewCls"), SUBC, E("Animal"))], "subj string, pred string, obj string"
    )
    with pytest.raises(ValueError, match="schema"):
        rdfs_closure_delta(closure_base, bad)
