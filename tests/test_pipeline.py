"""KG-construction pipeline golden tests.

The oracle builds the expected triple set **pure-Python**, through the
reference-shaped resource dataclasses (`OntologyIndividual.to_triples` —
themselves pinned against the reference suite) plus a union-find
canonicalization. The pipeline builds the same set **distributed**,
through Column-expression emitters and DataFrame connected components.
Two independent execution paths of one specification; P/R must be ≥ 0.95
(and is in fact exact).
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from ontograph_spark.ontology.literals import xsd_string
from ontograph_spark.ontology.resources import OntologyIndividual
from ontograph_spark.pipeline.construct import (
    Ont,
    construct_kg,
    mint_uri_py,
    schema_quads,
)
from ontograph_spark.pipeline.extract import extract_mentions_py
from ontograph_spark.pipeline.materialize import (
    construct_resumable,
    read_quads,
)
from ontograph_spark.pipeline.repo_source import (
    ALIASES,
    render_row,
    synthesize_repo_table,
)

GRAPH = "https://ontograph.dev/test-kg"
DECL_CLASS = {"func": "Function", "type": "Type", "class": "Class"}


def oracle_quads(rows: list[tuple[str, str, str, str, str]], graph_uri: str):
    """Expected (subj, pred, obj, graph) set for the given input rows."""
    ont = Ont(graph_uri)
    ns = graph_uri

    individuals: dict[str, OntologyIndividual] = {}

    def get(uri: str) -> OntologyIndividual:
        if uri not in individuals:
            individuals[uri] = OntologyIndividual(uri=uri)
        return individuals[uri]

    same_edges: set[tuple[str, str]] = set()

    for repo, path, commit, lang, content in rows:
        file_uri = mint_uri_py(ns, "file", f"{repo}|{path}")
        repo_uri = mint_uri_py(ns, "repo", repo)
        f = get(file_uri)
        if ont.uri("File") not in f.types:
            f.types.append(ont.uri("File"))
        f.add_object_property(ont.uri("inRepo"), repo_uri)
        f.add_data_property(ont.uri("path"), xsd_string(path))
        f.add_data_property(ont.uri("lang"), xsd_string(lang))
        f.add_data_property(ont.uri("commitId"), xsd_string(commit))
        f.add_data_property(
            ont.uri("checksum"),
            xsd_string(hashlib.sha256(content.encode()).hexdigest()),
        )
        r = get(repo_uri)
        if ont.uri("Repository") not in r.types:
            r.types.append(ont.uri("Repository"))
        r.label[""] = repo

        for kind, name in extract_mentions_py(lang, content):
            if kind == "import":
                mod_uri = mint_uri_py(ns, "module", name)
                f.add_object_property(ont.uri("imports"), mod_uri)
                m = get(mod_uri)
                if ont.uri("Module") not in m.types:
                    m.types.append(ont.uri("Module"))
                m.label[""] = name
                if name in ALIASES:
                    canon = ALIASES[name]
                    canon_uri = mint_uri_py(ns, "module", canon)
                    mc = get(canon_uri)
                    if ont.uri("Module") not in mc.types:
                        mc.types.append(ont.uri("Module"))
                    mc.label[""] = canon
                    same_edges.add((mod_uri, canon_uri))
                    if canon_uri not in m.same_individual_as:
                        m.same_individual_as.append(canon_uri)
            elif kind == "repo_ref":
                f.add_object_property(
                    ont.uri("refersToRepo"), mint_uri_py(ns, "repo", name)
                )
            else:
                decl_uri = mint_uri_py(ns, "decl", f"{repo}|{path}|{kind}|{name}")
                d = get(decl_uri)
                cls = ont.uri(DECL_CLASS[kind])
                if cls not in d.types:
                    d.types.append(cls)
                d.label[""] = name
                f.add_object_property(ont.uri("declares"), decl_uri)

    triples = set()
    for ind in individuals.values():
        for t in ind.to_triples():
            triples.add((t.subject, t.predicate, t.object, graph_uri))

    # union-find canonicalization over sameAs edges; the representative is
    # the smallest canonical (edge-target) member, else the smallest member
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted([ra, rb])
            parent[hi] = lo

    targets = {f"<{b}>" for _, b in same_edges}
    for a, b in same_edges:
        union(f"<{a}>", f"<{b}>")
    members: dict[str, list[str]] = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    rep_of: dict[str, str] = {}
    for root, nodes in members.items():
        canon = sorted(n for n in nodes if n in targets)
        rep = canon[0] if canon else min(nodes)
        for n in nodes:
            rep_of[n] = rep

    def rw(term: str) -> str:
        return rep_of.get(term, term)

    canonical = {(rw(s), p, rw(o), g) for s, p, o, g in triples}
    return canonical


@pytest.fixture(scope="module")
def small_input(spark):
    n = 150
    df = synthesize_repo_table(spark, n, n_repos=10, partitions=4)
    rows = [render_row(i, 10) for i in range(n)]
    return df, rows


def test_generator_deterministic(spark, small_input):
    df, rows = small_input
    got = {
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in df.collect()
    }
    assert got == set(rows)


def test_extract_matrix_spark_vs_python(spark, small_input):
    df, rows = small_input
    from ontograph_spark.pipeline.construct import ingest
    from ontograph_spark.pipeline.extract import extract_mentions

    got = {
        (r["repo"], r["path"], r["kind"], r["name"])
        for r in extract_mentions(ingest(df, GRAPH)).collect()
    }
    expected = set()
    for repo, path, commit, lang, content in rows:
        for kind, name in extract_mentions_py(lang, content):
            expected.add((repo, path, kind, name))
    assert got == expected
    # every kind occurs in the fixture, so every rule is exercised
    assert {k for _, _, k, _ in expected} == {
        "import",
        "func",
        "type",
        "class",
        "repo_ref",
    }


def test_pipeline_matches_oracle(spark, small_input):
    df, rows = small_input
    out = {
        (r["subj"], r["pred"], r["obj"], r["graph"])
        for r in construct_kg(spark, df, GRAPH).collect()
    }
    gold = oracle_quads(rows, GRAPH)
    gold |= {
        (t["subj"], t["pred"], t["obj"], t["graph"])
        for t in schema_quads(spark, GRAPH).collect()
    }
    inter = out & gold
    precision = len(inter) / len(out)
    recall = len(inter) / len(gold)
    assert precision >= 0.95, sorted(out - gold)[:10]
    assert recall >= 0.95, sorted(gold - out)[:10]
    # in fact the two paths agree exactly
    assert out == gold


def test_alias_canonicalization_merges_modules(spark, small_input):
    df, rows = small_input
    out = construct_kg(spark, df, GRAPH)
    ns = GRAPH
    # no alias module IRI may survive as a subject or object
    alias_terms = {f"<{mint_uri_py(ns, 'module', a)}>" for a in ALIASES}
    surviving = [
        r
        for r in out.collect()
        if r["subj"] in alias_terms or r["obj"] in alias_terms
    ]
    assert surviving == []


def test_resumable_construction(spark, tmp_path, small_input):
    df, rows = small_input
    root = str(tmp_path / "kg")
    m1 = construct_resumable(spark, df, root, GRAPH, buckets=4, write_partitions=2)
    assert [m["skipped"] for m in m1] == [False] * 4
    assert sum(m["input_rows"] for m in m1) == len(rows)
    # restart: everything skips, nothing recomputed
    m2 = construct_resumable(spark, df, root, GRAPH, buckets=4, write_partitions=2)
    assert [m["skipped"] for m in m2] == [True] * 4
    # crash simulation: drop one manifest -> only that bucket re-runs
    os.remove(os.path.join(root, "_manifests", "bucket-00002.json"))
    m3 = construct_resumable(spark, df, root, GRAPH, buckets=4, write_partitions=2)
    assert [m["skipped"] for m in m3] == [True, True, False, True]
    # the set view equals a single-shot run
    got = {
        (r["subj"], r["pred"], r["obj"], r["graph"])
        for r in read_quads(spark, root).collect()
    }
    single = {
        (r["subj"], r["pred"], r["obj"], r["graph"])
        for r in construct_kg(spark, df, GRAPH).collect()
    }
    assert got == single
    # manifests carry the lineage invariant
    with open(os.path.join(root, "_manifests", "bucket-00000.json")) as f:
        m = json.load(f)
    assert {"bucket", "input_rows", "input_sha256_xor", "triples", "wall_sec"} <= set(m)


def test_resumable_construction_releases_caches(spark, tmp_path, small_input):
    """Each bucket's construction caches are unpersisted after its write:
    no persistent RDD the run created is left. (Ids, not a count: Spark's
    context cleaner may drop RDDs of earlier tests meanwhile.)"""
    df, _ = small_input

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    ms = construct_resumable(spark, df, str(tmp_path / "kg"), GRAPH, buckets=3)
    assert [m["skipped"] for m in ms] == [False] * 3
    assert persistent() - before == set()
