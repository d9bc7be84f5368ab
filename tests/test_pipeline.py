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


#: contents where Java's regex dialect and Python's ``re`` part ways
#: unless the rules are translated (extract.java_regex): line ends other
#: than ``\n``, Python-only white space (U+001C-U+001F), marks and
#: connector punctuation Java's ``\w`` takes, non-decimal numbers Java's
#: Unicode ``\w`` drops, CJK names, Go import blocks with blank lines,
#: and no final newline
ADVERSARIAL = [
    ("python", "import os\r\nimport sys\rimport re\r\n\r\nimport io"),
    ("python", "import a\u0085import b\nimport c\u0085\nimport d\u2028"),
    ("python", "import e\u2028import f\nimport g\u2029\nimport h\u00a0\n"),
    ("python", "".join(f"import m{c}\ndef f{c}(x):\n" for c in "\x1c\x1d\x1e\x1f")),
    ("python", "def f\u0301(x):\nclass K\u203f:\ndef g\u203fh(x):\nclass L:"),
    ("python", "import \u00b2\nimport \u2160\ndef \u0663(x):\nclass x\u00b2\u2160\u0663:"),
    ("python", "def 函数(x):\nimport 模块.子\nfrom 包 import 名\n# see repo:仓库-1"),
    ("python", "from a.b import c \t\nfrom d import e.f\n# see repo:r-2\r\n"),
    ("go", 'import (\n\t"fmt"\n\n\t"os"\n\n\n    "net.http"\r\n)\n'),
    ("go", 'import (\n\x1c"a"\n\u00a0"b"\u0085\n\u2028"c"\n)\ntype T struct {}'),
    ("go", "func Main(\ntype Ü struct\n// see repo:r_3\nfunc λ(x)"),
    ("go", "package p\n\nfunc F() {}\n\ttype Inner struct"),
]

REPO_DDL = "repo string, path string, commit string, lang string, content string"


def _extract_diff(spark, rows):
    """The (repo, path, kind, name) rows where extract_mentions and the
    Python oracle disagree, over ``(repo, path, commit, lang, content)``
    input rows built as a local relation."""
    from ontograph_spark.pipeline.extract import extract_mentions
    from ontograph_spark.terms import local_frame

    got = {
        (r["repo"], r["path"], r["kind"], r["name"])
        for r in extract_mentions(local_frame(spark, rows, REPO_DDL)).collect()
    }
    want = {
        (repo, path, kind, name)
        for repo, path, _, lang, content in rows
        for kind, name in extract_mentions_py(lang, content)
    }
    return got ^ want, want


def test_extract_adversarial_contents_match_python(spark):
    rows = [
        ("r", f"f{i}", "c", lang, content)
        for i, (lang, content) in enumerate(ADVERSARIAL)
    ]
    diff, want = _extract_diff(spark, rows)
    assert diff == set()
    # the probes do hit matches in both languages, not just misses
    assert {p for _, p, _, _ in want} == {f"f{i}" for i in range(len(rows))}


def test_java_regex_translates_classes_and_rejects_other_escapes():
    from ontograph_spark.pipeline.extract import java_regex

    assert java_regex(r"^a\w[\w.\-]\s*$") == (
        r"(?mdU)^a[\p{L}\p{N}_][\p{L}\p{N}_.\-][\s\x1c-\x1f]*$"
    )
    for untranslated in (r"\d", r"\b", r"\W", r"\S"):
        with pytest.raises(ValueError):
            java_regex(f"^x{untranslated}")


def test_extract_bmp_sweep_matches_python_up_to_jvm_unassigned(spark):
    """Every BMP code point in two templates (a ``\\w`` probe inside a
    declaration, a ``\\w``/``\\s`` probe at an import's end). The only
    disagreements allowed are code points the JVM's Unicode tables leave
    unassigned (``Character.getType == 0``) while Python's newer tables
    class them as letters or digits (SURVEY.md, mention extraction)."""
    templates = ("def a{c}b(x):", "import a{c}")
    rows = [
        ("r", f"{t}:{cp}", "c", "python", tpl.format(c=chr(cp)))
        for cp in range(0x10000)
        if not 0xD800 <= cp <= 0xDFFF
        for t, tpl in enumerate(templates)
    ]
    diff, want = _extract_diff(spark, rows)
    assert len(want) > 90_000  # most code points are word characters
    mismatched = {int(path.split(":")[1]) for _, path, _, _ in diff}
    jvm_type = spark.sparkContext._jvm.java.lang.Character.getType
    assert {cp for cp in mismatched if jvm_type(cp) != 0} == set()


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


def test_canonical_mapping_distributed_path_matches_union_find(
    spark, monkeypatch
):
    """``canonical_mapping``'s distributed path (label propagation plus
    the representative choice), forced by a driver limit of 0, returns
    the driver path's union-find mapping on seeded alias graphs. Each
    graph also carries a 3-cycle and a component with two edge targets,
    where the smallest target (not the smallest member) must win."""
    import random

    from ontograph_spark.functions import graph_algo
    from ontograph_spark.pipeline.canon import (
        canonical_mapping,
        union_find_mapping,
    )

    monkeypatch.setattr(graph_algo, "DRIVER_EDGE_LIMIT", 0)
    nodes = [f"<u:n{i}>" for i in range(10)]
    fixed = {
        ("<u:c0>", "<u:c1>"), ("<u:c1>", "<u:c2>"), ("<u:c2>", "<u:c0>"),
        ("<u:a0>", "<u:t1>"), ("<u:a0>", "<u:t0>"), ("<u:a1>", "<u:t1>"),
    }
    for seed in range(3):
        rng = random.Random(seed)
        edges = sorted(
            fixed
            | {tuple(rng.sample(nodes, 2)) for _ in range(rng.randint(3, 12))}
        )
        df = spark.createDataFrame(edges, "src string, dst string")
        got = sorted(tuple(r) for r in canonical_mapping(df).collect())
        want = sorted(union_find_mapping(edges))
        assert ("<u:a0>", "<u:t0>") in want and ("<u:t1>", "<u:t0>") in want
        assert got == want, f"seed {seed}: {edges}"


def test_canonical_mapping_distributed_path_runs_to_convergence(
    spark, monkeypatch
):
    """A 21-node alias chain needs 20 label-propagation rounds: the
    distributed path must run until no label changes, not stop after a
    fixed round count, and map every non-representative node."""
    from ontograph_spark.functions import graph_algo
    from ontograph_spark.pipeline.canon import (
        canonical_mapping,
        union_find_mapping,
    )

    monkeypatch.setattr(graph_algo, "DRIVER_EDGE_LIMIT", 0)
    edges = [(f"<u:c{i:02d}>", f"<u:c{i + 1:02d}>") for i in range(20)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(tuple(r) for r in canonical_mapping(df).collect())
    want = sorted(union_find_mapping(edges))
    assert len(want) == 20
    assert got == want


#: Two constructions and writes of one input in a fresh process, printing
#: the generated classes each one compiled (Spark's CodegenMetrics).
_COMPILE_PROBE = """
import sys, tempfile
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.codegen.useIdInClassName", "false")
         .config("spark.ui.enabled", "false").getOrCreate())
from ontograph_spark.pipeline.construct import constructed
from ontograph_spark.pipeline.repo_source import REPO_SCHEMA, render_row
from ontograph_spark.terms import local_frame
jvm = spark.sparkContext._jvm
compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
files = local_frame(spark, [render_row(i, 10) for i in range(150)], REPO_SCHEMA)
out = tempfile.mkdtemp(dir=sys.argv[1])
for i in range(2):
    before = compiled.getCount()
    with constructed(spark, files) as quads:
        quads.write.parquet(f"{out}/kg{i}")
    print("compiled", compiled.getCount() - before)
spark.stop()
"""


def test_second_construction_compiles_no_classes(tmp_path):
    """Nothing in a construction's generated code varies per call:
    constructing and writing the same input again compiles nothing.
    The probe turns off ``useIdInClassName``: adaptive execution may
    renumber whole-stage codegen ids between calls, and with the id in
    the class text Spark recompiles a few identical bodies per call."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    run = subprocess.run(
        [sys.executable, "-c", _COMPILE_PROBE, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    counts = [int(line.split()[1]) for line in run.stdout.splitlines()
              if line.startswith("compiled ")]
    assert len(counts) == 2 and counts[0] > 0, run.stdout
    assert counts[1] == 0, counts
