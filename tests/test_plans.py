"""Physical-plan shape assertions — the scale guarantees are properties
of the plan, so they are pinned like behavior:

* pattern-match filters reach the parquet scan (predicate pushdown);
* column pruning reaches the scan (ReadSchema excludes unused columns);
* entity linking uses broadcast hash joins (no shuffle of the mention
  stream, never a nested-loop join);
* the upsert anti-joins stay equi-joins (hash-joinable);
* the salted write produces a partitioning expression that splits the
  hot rdf:type predicate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontograph_spark.ontology.resources import new_triple
from ontograph_spark.pipeline.link import link_imports, module_dictionary
from ontograph_spark.pipeline.materialize import salted_repartition
from ontograph_spark.sources.ntriples import read_ntriples, write_ntriples
from ontograph_spark.store import ParquetQuadStore
from ontograph_spark.terms import mk_literal, mk_resource

G = "https://g.example/plans"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pstore(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("plans") / "quads")
    s = ParquetQuadStore(spark, G, root, write_partitions=2)
    s.add_triples(
        [
            new_triple(mk_resource(f"{G}#a"), mk_resource(f"{G}#rel"), mk_resource(f"{G}#b")),
            new_triple(mk_resource(f"{G}#b"), mk_resource(f"{G}#rel"), mk_literal("x", "", "")),
        ]
    )
    return s


def test_pattern_match_pushes_filters_to_scan(pstore):
    plan = plan_of(pstore.match_df("", mk_resource(f"{G}#rel"), ""))
    assert "FileScan parquet" in plan
    assert "PushedFilters" in plan
    # graph is a partition column since the scoped-commit layout: its
    # filter prunes whole directories (PartitionFilters) — stronger than
    # a row-group filter; the predicate filter reaches PushedFilters
    parts = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "graph" in parts and "=" in parts
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "EqualTo(pred," in pushed


def test_column_pruning_reaches_scan(pstore):
    plan = plan_of(pstore.match_df("", mk_resource(f"{G}#rel"), "").select("subj"))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "obj" not in read_schema  # unused column pruned from the scan


def test_linking_is_broadcast_hash_join(spark):
    mentions = spark.createDataFrame(
        [("r", "p", "python", "import", "corelib")],
        ["repo", "path", "lang", "kind", "name"],
    )
    plan = plan_of(link_imports(mentions, module_dictionary(spark)))
    assert plan.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_upsert_uses_hashable_anti_joins(spark, pstore):
    subjects = spark.createDataFrame([(mk_resource(f"{G}#a"),)], ["subj"])
    # build the kept-rows plan the same way upsert_subjects does
    s = F.broadcast(subjects.select("subj").distinct())
    keep = pstore.df().join(s, on="subj", how="left_anti")
    keep = keep.join(s.withColumnRenamed("subj", "obj"), on="obj", how="left_anti")
    plan = plan_of(keep)
    assert plan.count("BroadcastHashJoin") == 2
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_write_splits_hot_predicate(spark):
    from ontograph_spark import vocab

    rows = [
        (f"<https://g#s{i}>", mk_resource(vocab.RDF_TYPE), "<https://g#C>", "g")
        for i in range(100)
    ] + [(f"<https://g#s{i}>", "<https://g#p>", f"<https://g#o{i}>", "g") for i in range(100)]
    df = spark.createDataFrame(rows, ["subj", "pred", "obj", "graph"])
    out = salted_repartition(df, 8, hot_salt=16, subj_salt=4)
    # the partitioning expression must reference pred (hot-key branch)
    plan = plan_of(out)
    assert "hashpartitioning" in plan
    assert "pred" in plan.split("hashpartitioning")[1].split(")")[0]
    # hot rdf:type rows from ONE subject spread across many partitions
    one_subj = [
        ("<https://g#hot>", mk_resource(vocab.RDF_TYPE), f"<https://g#C{i}>", "g")
        for i in range(64)
    ]
    hot = spark.createDataFrame(one_subj, ["subj", "pred", "obj", "graph"])
    parts = (
        salted_repartition(hot, 8, hot_salt=16, subj_salt=4)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts >= 4  # same subject, hot predicate → several partitions


def test_multimodal_plan_runs_no_driver_action(spark, monkeypatch):
    """Building the extract_features plan must not run a job (round 1 ran
    a full payload pre-scan in size_bucketed — doubled IO at scale)."""
    from pyspark.sql import DataFrame

    from ontograph_spark.functions.multimodal import (
        extract_features,
        synthesize_media_table,
    )

    def boom(*a, **k):  # pragma: no cover - only fires on regression
        raise AssertionError("driver action during plan construction")

    media = synthesize_media_table(spark, 10, partitions=2)
    for action in ("collect", "count", "take", "head", "toLocalIterator"):
        monkeypatch.setattr(DataFrame, action, boom)
    extract_features(media, dim=8)  # plan construction only — no action


def test_size_bucketed_uses_file_metadata(spark, tmp_path):
    from ontograph_spark.functions.multimodal import _input_bytes_from_metadata

    df = spark.range(1000).select(
        F.col("id").alias("media_id"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    path = str(tmp_path / "m")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    got = _input_bytes_from_metadata(back)
    assert got is not None and got > 0
    # non-file-backed plan → None (falls back to default parallelism)
    assert _input_bytes_from_metadata(df) is None


def test_ntriples_round_trip(spark, tmp_path, pstore):
    path = str(tmp_path / "nt")
    write_ntriples(pstore.df(), path)
    back = read_ntriples(spark, path, G)
    got = {(r["subj"], r["pred"], r["obj"]) for r in back.collect()}
    want = {(r["subj"], r["pred"], r["obj"]) for r in pstore.df().collect()}
    assert got == want


def test_stratified_sample_is_shuffle_free_filter(spark, tmp_path):
    from ontograph_spark.functions.sampling import hash_stratified_sample

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"src{i % 3}", "t") for i in range(30)],
        "doc_id long, source string, text string",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = plan_of(hash_stratified_sample(df, {"src0": 0.5, "src1": 0.2}))
    assert "Exchange" not in plan  # one codegen filter, zero shuffles
    assert "*(1) Filter" in plan  # the * marks whole-stage codegen


def test_pack_sequences_single_bounded_shuffle(spark):
    from ontograph_spark.functions.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, f"src{i % 3}", 10 + i) for i in range(60)],
        "doc_id long, source string, ntok long",
    )
    plan = plan_of(pack_sequences(df, tokens_col="ntok", budget=64, buckets=4))
    assert plan.count("Exchange") == 1  # one hash shuffle feeds the window
    part = plan.split("hashpartitioning(")[1].split(")")[0]
    assert "source" in part and "bucket" in part  # keyed by (stratum, bucket)


def test_asof_join_is_single_window_sweep(spark):
    from datetime import datetime

    from ontograph_spark.functions.temporal import asof_join

    t = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 1, t)], "event_id long, user_id long, ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(1, t, 2)], "user_id long, ts timestamp_ntz, click_id long"
    )
    plan = plan_of(
        asof_join(left, right, on="user_id", ts_col="ts", value_cols=("click_id",))
    )
    # no join operator at all: the as-of is union + ONE key-hash window
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 1  # the window's key-hash shuffle


def test_range_join_is_bucketed_equi_join(spark, tmp_path):
    from datetime import datetime

    from ontograph_spark.functions.temporal import range_join

    t = datetime(2024, 1, 1)
    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, i % 3, t, "error" if i % 2 else "click") for i in range(20)],
        "event_id long, user_id long, ts timestamp_ntz, event_type string",
    ).write.parquet(p)
    ev = spark.read.parquet(p)
    left = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    plan = plan_of(
        range_join(left, right, on="user_id", ts_col="ts", window_seconds=60)
    )
    # equi-join on (key, bin) — hash-joinable, never a nested loop over
    # the inequality predicate; type filter pushed to the parquet scan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "PushedFilters" in plan and "EqualTo(event_type," in plan


def test_rollup_is_expand_plus_one_shuffle(spark):
    from ontograph_spark.functions.corpus import source_rollup

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", f"l{i % 2}", 10 + i) for i in range(30)],
        "doc_id long, source string, lang string, n_chars long",
    )
    plan = plan_of(source_rollup(df))
    # grouping sets expand map-side: every rollup level feeds the SAME
    # partial aggregate before one exchange — never a per-level re-agg
    assert "Expand" in plan
    assert plan.count("Exchange") == 1


def test_moving_avg_windows_the_aggregate_not_the_events(spark):
    from datetime import datetime

    import __spark_entry__ as entrymod

    # the window's sort must run over the (type, hour) aggregate — the
    # plan orders Aggregate below Window, and the window frame never
    # touches the raw event rows
    t = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, i % 3, t, "click", 0.5, "{}") for i in range(20)],
        "event_id long, user_id long, ts timestamp_ntz, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = entrymod.q_events_moving_avg(spark, d)
        plan = plan_of(out)
    window_pos = plan.index("Window")
    agg_pos = plan.rindex("HashAggregate")
    assert agg_pos > window_pos  # aggregate is the window's child
    assert plan.count("Window") == 1


def test_cross_doc_span_stats_semi_join_and_no_driver_action(spark, tmp_path):
    """The dup-gram join back must be a LEFT SEMI (never materializes the
    hot-gram rows per doc), and building the plan must not run any job
    (no driver-side pre-scan)."""
    from ontograph_spark.functions.dedup import cross_doc_span_stats

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w%d x y z a b c d e f" % (i % 2)) for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = cross_doc_span_stats(df, "doc_id", "text", n=3)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # plan construction runs zero jobs
    plan = plan_of(out)
    assert "LeftSemi" in plan
    # document-frequency aggregate keeps a map-side partial phase
    assert "partial_count" in plan


def test_vocab_coverage_uses_distributed_takeordered(spark):
    """The top-n must be TakeOrderedAndProject (per-partition heaps +
    driver merge), never a global sort of the vocabulary."""
    from ontograph_spark.functions.corpus import vocab_coverage

    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(10)], ["doc_id", "text"]
    )
    plan = plan_of(vocab_coverage(docs, top_n=5))
    assert "TakeOrderedAndProject" in plan
    # the only Sort is the post-limit window over the n surviving rows
    assert plan.count("Sort") <= 1


def test_kmeans_assign_is_broadcast_only(spark):
    """Assignment must never shuffle the vector stream: centroids move
    as broadcasts, and no sort-merge join appears at any iteration."""
    from ontograph_spark.functions.similarity import kmeans_assign

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)], ["vec_id", "embedding"]
    )
    plan = plan_of(kmeans_assign(vecs, k=3, iters=1, seed_stride=4))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 1


def test_k_hop_reachability_stays_hash_joined(spark):
    """Every BFS hop must be an equi hash join — no nested-loop or
    cartesian fallback at any unrolled depth."""
    from ontograph_spark.functions.graph_algo import k_hop_reachability

    quads = spark.createDataFrame(
        [("<a>", "<p>", "<b>", "<g>"), ("<b>", "<p>", "<c>", "<g>")],
        "subj string, pred string, obj string, graph string",
    )
    src = spark.createDataFrame([("<a>",)], ["node"])
    plan = plan_of(k_hop_reachability(quads, src, edge_preds=("<p>",), k=2))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sparql_bgp_plan_pushes_constants_and_stays_hash_joined(pstore):
    """A SPARQL BGP compiles to pushed-down pattern scans joined on
    shared variables: the constant predicate/graph reach the parquet
    scan's PushedFilters, unused quad columns are pruned, and the
    variable join never falls back to a nested loop or cartesian."""
    from ontograph_spark.query import sparql_select

    q = f"""
    SELECT ?x ?y WHERE {{ GRAPH <{G}> {{
        ?x <{G}#rel> ?y .
        ?y <{G}#rel> ?z .
    }} }}"""
    plan = plan_of(sparql_select(pstore.df(), q))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "EqualTo(pred," in pushed
    parts = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "graph" in parts and "=" in parts  # graph scope prunes partitions
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sparql_ask_is_limit_probe(pstore):
    """ASK compiles to a limit(1) existence probe, not a full scan+count."""
    from ontograph_spark.query.sparql import _Parser, _compile_group

    g = _Parser(f"ASK {{ ?s <{G}#rel> ?o }}").parse_query().group
    plan = plan_of(_compile_group(pstore.df(), g).limit(1))
    assert "CollectLimit" in plan or "GlobalLimit" in plan


def test_sparql_not_exists_is_anti_join(pstore):
    """FILTER NOT EXISTS compiles to one hash anti-join on the shared
    variable — no correlated re-execution, no nested loop."""
    from ontograph_spark.query import sparql_select

    q = f"""
    SELECT ?x WHERE {{ GRAPH <{G}> {{
        ?x <{G}#rel> ?y .
        FILTER NOT EXISTS {{ ?y <{G}#rel> ?z }}
    }} }}"""
    plan = plan_of(sparql_select(pstore.df(), q))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sparql_exists_is_semi_join(pstore):
    from ontograph_spark.query import sparql_select

    q = f"""
    SELECT ?x WHERE {{ GRAPH <{G}> {{
        ?x <{G}#rel> ?y .
        FILTER EXISTS {{ ?y <{G}#rel> ?z }}
    }} }}"""
    plan = plan_of(sparql_select(pstore.df(), q))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sparql_negated_set_pushes_not_in_filter(pstore):
    """!(p|q) is ONE scan with a Not(In(pred, …)) predicate — no join."""
    from ontograph_spark.query import sparql_select

    q = f"SELECT ?s ?o WHERE {{ ?s !(<{G}#other>|<{G}#other2>) ?o }}"
    plan = plan_of(sparql_select(pstore.df(), q))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "Not(In(pred" in pushed


def test_sparql_having_single_aggregate(pstore):
    """HAVING's aggregate rides the SAME hash aggregate as the
    projection (a hidden column) — one aggregation, then a filter."""
    from ontograph_spark.query import sparql_select

    q = f"""
    SELECT ?x (COUNT(?y) AS ?n) WHERE {{ GRAPH <{G}> {{
        ?x <{G}#rel> ?y .
    }} }} GROUP BY ?x HAVING (COUNT(?y) >= 1)"""
    plan = plan_of(sparql_select(pstore.df(), q))
    # exactly one aggregation pair (partial + final HashAggregate)
    assert plan.count("HashAggregate") == 2


def test_bucketed_table_star_join_has_no_exchange(spark, tmp_path_factory):
    """save_bucketed_table: a star-shaped self-join on the bucket column
    (subject) must be bucket-local — no Exchange on either side, the
    layout guarantee that holds at any scale."""
    from ontograph_spark.pipeline.materialize import (
        bucketed_quads,
        save_bucketed_table,
    )

    loc = tmp_path_factory.mktemp("bucketdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
    rows = [
        (f"<u:e{i}>", p, f'"{i}-{p[-3:-1]}"', "g")
        for i in range(50)
        for p in ("<u:name>", "<u:kind>")
    ]
    quads = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    try:
        save_bucketed_table(quads, "bucketdb.quads_b", buckets=4)
        t = bucketed_quads(spark, "bucketdb.quads_b")
        with _no_broadcast(spark):
            a = t.where(F.col("pred") == "<u:name>").select(
                "subj", F.col("obj").alias("name")
            )
            b = t.where(F.col("pred") == "<u:kind>").select(
                "subj", F.col("obj").alias("kind")
            )
            joined = a.join(b, "subj")
            assert joined.count() == 50
            plan = plan_of(joined)
        assert "Exchange" not in plan, plan
        # pushdown still composes with bucketing
        assert "PushedFilters" in plan or "pred" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketdb.quads_b")
        spark.sql("DROP DATABASE IF EXISTS bucketdb")


def test_bucketed_table_sparql_star_no_exchange(spark, tmp_path_factory):
    """The same guarantee through the SPARQL compiler: a two-pattern
    star query over the bucketed table plans bucket-local joins."""
    from ontograph_spark.pipeline.materialize import (
        bucketed_quads,
        save_bucketed_table,
    )
    from ontograph_spark.query import sparql_select

    loc = tmp_path_factory.mktemp("bucketdb2")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb2 LOCATION '{loc}'")
    rows = [
        (f"<u:e{i}>", p, f'"{i}"', "g")
        for i in range(20)
        for p in ("<u:name>", "<u:kind>")
    ]
    quads = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    try:
        save_bucketed_table(quads, "bucketdb2.quads_b", buckets=4)
        t = bucketed_quads(spark, "bucketdb2.quads_b")
        with _no_broadcast(spark):
            df = sparql_select(
                t, "SELECT ?s ?n ?k WHERE { ?s <u:name> ?n ; <u:kind> ?k }"
            )
            assert df.count() == 20
            plan = plan_of(df)
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketdb2.quads_b")
        spark.sql("DROP DATABASE IF EXISTS bucketdb2")


class _no_broadcast:
    """Temporarily disable broadcast joins so the bucket-locality claim
    is tested against the shuffle planner, not hidden by tiny-table
    broadcasts."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def __exit__(self, *a):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.prev)


#: plan nodes that run Python: each needs a Python worker per task
#: (``ExistingRDD`` is a relation built from a Python list, whose rows a
#: worker unpickles)
PYTHON_NODES = ("MapInPandas", "PythonUDF", "BatchEvalPython", "ArrowEvalPython", "ExistingRDD")


def _python_nodes(plan: str) -> list[str]:
    return [n for n in PYTHON_NODES if n in plan]


def test_construct_kg_plan_runs_no_python(spark):
    """Construction is JVM-side end to end: extraction is a regex
    projection (``Generate inline`` over ``regexp_extract_all``), and the
    schema quads, the module dictionary and the canonical mapping are
    local relations."""
    from ontograph_spark.pipeline.construct import construct_kg
    from ontograph_spark.pipeline.repo_source import REPO_SCHEMA, render_row
    from ontograph_spark.terms import local_frame

    files = local_frame(spark, [render_row(i, 10) for i in range(150)], REPO_SCHEMA)
    plan = plan_of(construct_kg(spark, files, G))
    # the extraction and linking subtrees are in the string we inspect
    assert "regexp_extract_all" in plan and "BroadcastHashJoin" in plan
    assert "LocalTableScan" in plan
    assert _python_nodes(plan) == []


def test_values_and_insert_data_plans_build_no_rdd_from_a_list(
    spark, tmp_path, monkeypatch
):
    """A SPARQL VALUES block and an INSERT DATA batch become local
    relations (``LocalTableScan``), not ``Scan ExistingRDD``."""
    from ontograph_spark.query import sparql_select
    from ontograph_spark.query.endpoint import LocalSparqlEndpoint

    store = ParquetQuadStore(spark, G, str(tmp_path / "q"))
    added_plans = []
    commit = ParquetQuadStore._commit

    def spy(self, op, added=None, removed=None):
        if added is not None:
            added_plans.append(plan_of(added))
        return commit(self, op, added=added, removed=removed)

    monkeypatch.setattr(ParquetQuadStore, "_commit", spy)
    ep = LocalSparqlEndpoint(spark, lambda uri: store)
    ep.update(f"INSERT DATA {{ GRAPH <{G}> {{ <{G}#a> <{G}#rel> <{G}#b> }} }}")
    assert len(added_plans) == 1
    assert "LocalTableScan" in added_plans[0]
    assert _python_nodes(added_plans[0]) == []

    q = f"SELECT ?x ?y WHERE {{ VALUES ?x {{ <{G}#a> <{G}#c> }} ?x <{G}#rel> ?y }}"
    df = sparql_select(store.df(), q)
    assert "LocalTableScan" in plan_of(df)
    assert _python_nodes(plan_of(df)) == []
    assert [tuple(r) for r in df.collect()] == [(f"<{G}#a>", f"<{G}#b>")]
