"""Distributed graph analytics over the quad table.

Two analysis operators a KG owner runs on the materialized graph
(reference scope ends at storage/query — these are the Spark-native
analytics the brief's "beyond the reference" clause asks for):

* :func:`predicate_degrees` — per-predicate triple count + distinct
  subject/object cardinalities: the KG profile report (which predicates
  are hot, which are functional, where join skew will come from).
* :func:`pagerank` — fixed-iteration PageRank over an edge predicate
  subset, in **integer (micro-scaled) arithmetic** so the result is
  bit-deterministic across engines and across partitionings: float
  summation order can differ between runs/engines, integer summation
  cannot. Dangling-node mass is dropped (documented variant — the
  deterministic choice; re-injecting it needs a global scalar per
  iteration, which is one extra broadcast if ever needed).
* :func:`transitive_closure` — the one-or-more closure of an edge
  relation, the fixpoint behind SPARQL ``+``/``*`` paths and the RDFS
  subClassOf/subPropertyOf closures; closed on the driver when the
  edges and the closure are small, by a distributed frontier loop
  otherwise.

100 TB shape of :func:`pagerank`: each iteration is one equi-join of
the rank table with the edge table on ``src`` plus one map-side-combined
``sum`` by ``dst`` — both hash-partitioned on the node key, so Catalyst
reuses one exchange layout across all iterations; AQE skew-join splits
hub nodes (every KG has rdf:type-like hubs). Iterations are unrolled
into one plan (k is small); nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontograph_spark.terms import local_frame

#: damping factor as an exact fraction (85/100) — integer arithmetic only
DAMP_NUM, DAMP_DEN = 17, 20
BASE_MICRO = 1_000_000


def predicate_degrees(quads: DataFrame) -> DataFrame:
    """Per-predicate profile: triples, distinct subjects, distinct
    objects. One aggregate; distinct counts are exact (shuffle by
    pred is safe — predicate vocabulary is small; the heavy lifting
    is the partial aggregation before the exchange)."""
    return quads.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("obj").alias("n_objects"),
    )


def pagerank(
    quads: DataFrame,
    *,
    edge_preds: tuple[str, ...],
    iterations: int = 3,
) -> DataFrame:
    """Integer-scaled PageRank over the subgraph of ``edge_preds``.

    rank_0 = 1e6 (micro) for every node; each iteration:

        contrib(e) = floor(rank(src) / outdeg(src))   per out-edge
        rank'(n)   = floor(0.15 * 1e6) + floor(0.85 * sum(contrib in))

    floor() on integers in both engines → bit-identical results
    regardless of aggregation order. Returns (node, rank_micro).
    """
    edges = (
        quads.where(F.col("pred").isin(*edge_preds))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("rank_micro", F.lit(BASE_MICRO).cast("bigint"))
    base = (BASE_MICRO * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN  # 0.15 * 1e6
    for _ in range(iterations):
        contribs = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"])
            .join(edges, "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(F.col("rank_micro") / F.col("outdeg")).alias("c"),
            )
        )
        inflow = contribs.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.floor(
                        F.coalesce(F.col("inflow"), F.lit(0))
                        * DAMP_NUM
                        / DAMP_DEN
                    )
                ).cast("bigint").alias("rank_micro"),
            )
        )
    return ranks


def k_hop_reachability(
    quads: DataFrame,
    sources: DataFrame,
    *,
    edge_preds: tuple[str, ...],
    k: int = 3,
    reverse: bool = False,
) -> DataFrame:
    """Min-hop BFS: every node reachable from ``sources`` (a one-column
    ``node`` DataFrame) within ``k`` hops over the ``edge_preds``
    subgraph, with the minimum hop count — ``(node, hops)``, sources at
    hop 0. ``reverse=True`` walks edges object→subject (e.g. from a
    region out to everything that links into it).

    100 TB shape: the frontier expansion is one equi-join per hop
    (frontier × edges on the node key) plus a left-anti against the
    visited set — all hash joins on one key, unrolled into a single plan
    (k is small); per-hop ``distinct`` keeps the frontier a set, so hub
    fan-in never re-expands. Nothing is collected to the driver."""
    edges = (
        quads.where(F.col("pred").isin(*edge_preds))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    if reverse:
        edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    visited = sources.select("node", F.lit(0).alias("hops"))
    frontier = visited.select("node")
    for h in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        visited = visited.unionByName(nxt.select("node", F.lit(h).alias("hops")))
        frontier = nxt
    return visited


#: edge relations (and closures) up to this many rows are solved on the
#: driver: one bounded ``take`` in place of one Spark job per round.
#: Callers read it as a module attribute at call time.
DRIVER_EDGE_LIMIT = 100_000


def transitive_closure(edges: DataFrame, seed: str | None = None) -> DataFrame:
    """One-or-more closure of a string edge relation ``(src, dst, *keys)``.

    Every column besides ``src``/``dst`` is a key: pairs chain only
    within equal keys, so a ``__g`` column (SPARQL ``GRAPH ?var``)
    closes each graph within itself. A cycle yields its self-pairs
    (``a→b→a`` gives ``(a, a)``). With ``seed``, only the pairs whose
    ``src`` is the seed are computed and returned.

    The path is picked from one observable size, a bounded
    ``take(DRIVER_EDGE_LIMIT + 1)`` of the distinct edges. Edges that
    fit are closed on the driver and, if the closure fits too, shipped
    back as an Arrow-backed local relation (a ``LocalTableScan``, no
    Python-worker round trip): one action for the whole closure. Otherwise
    the frontier loop runs: per round one hash equi-join of the newest
    pairs with the edges plus an anti-join against the pairs so far,
    ``localCheckpoint`` truncating lineage and an emptiness probe ending
    the loop, O(diameter) rounds. Each round adds a pair or stops, so
    the loop terminates on any finite relation."""
    keys = [c for c in edges.columns if c not in ("src", "dst")]
    cols = ["src", "dst", *keys]
    edges = edges.select(*cols).distinct()
    limit = DRIVER_EDGE_LIMIT
    head = edges.take(limit + 1)
    if len(head) <= limit:
        pairs = _driver_closure(head, seed, limit)
        if pairs is not None:
            return local_frame(
                edges.sparkSession, pairs, ", ".join(f"`{c}` string" for c in cols)
            )
    edges = edges.localCheckpoint()
    step = edges.withColumnRenamed("src", "__mid")
    known = edges if seed is None else edges.where(F.col("src") == F.lit(seed))
    frontier = known
    while True:
        new = (
            frontier.withColumnRenamed("dst", "__mid")
            .join(step, ["__mid", *keys])
            .select(*cols)
            .distinct()
            .join(known, cols, "left_anti")
            .localCheckpoint()
        )
        if new.isEmpty():
            return known
        known = known.unionByName(new).localCheckpoint()
        frontier = new


def _driver_closure(
    rows: list, seed: str | None, limit: int
) -> list[tuple] | None:
    """Depth-first closure of ``(src, dst, *keys)`` rows from every
    source (or from ``seed`` only); ``None`` once it passes ``limit``
    pairs."""
    succ: dict[tuple, list[str]] = {}
    for src, dst, *key in rows:
        succ.setdefault((src, *key), []).append(dst)
    out: list[tuple] = []
    for src, *key in succ:
        if seed is not None and src != seed:
            continue
        seen: set[str] = set()
        stack = list(succ[(src, *key)])
        while stack:
            n = stack.pop()
            if n not in seen:
                seen.add(n)
                stack.extend(succ.get((n, *key), ()))
        out.extend((src, n, *key) for n in seen)
        if len(out) > limit:
            return None
    return out


def k_hop_sql_cte(
    edge_preds: tuple[str, ...],
    sources_sql: str,
    k: int = 3,
    reverse: bool = False,
) -> str:
    """DuckDB twin of :func:`k_hop_reachability` as a CTE chain ending
    in ``reach_final(node, hops)``. ``sources_sql`` is a relation
    yielding one ``node`` column; assumes a ``quads`` CTE in scope. The
    hop loop is unrolled to mirror the Spark plan exactly."""
    preds = ", ".join(f"'{p}'" for p in edge_preds)
    src, dst = ("obj", "subj") if reverse else ("subj", "obj")
    parts = [
        f"kedges AS (SELECT DISTINCT {src} AS src, {dst} AS dst "
        f"FROM quads WHERE pred IN ({preds}))",
        f"v0 AS (SELECT node, 0 AS hops FROM ({sources_sql}))",
        "f0 AS (SELECT node FROM v0)",
    ]
    prev_v, prev_f = "v0", "f0"
    for h in range(1, k + 1):
        parts.append(
            f"f{h} AS (SELECT DISTINCT e.dst AS node FROM {prev_f} f "
            f"JOIN kedges e ON e.src = f.node "
            f"WHERE e.dst NOT IN (SELECT node FROM {prev_v}))"
        )
        parts.append(
            f"v{h} AS (SELECT node, hops FROM {prev_v} "
            f"UNION ALL SELECT node, {h} AS hops FROM f{h})"
        )
        prev_v, prev_f = f"v{h}", f"f{h}"
    parts.append(f"reach_final AS (SELECT node, hops FROM {prev_v})")
    return ",\n".join(parts)


def pagerank_sql_cte(
    edge_preds: tuple[str, ...],
    iterations: int = 3,
) -> str:
    """DuckDB twin of :func:`pagerank` as a CTE chain ending in a
    ``pr_final(node, rank_micro)`` relation. Assumes a ``quads`` CTE is
    already in scope. The iteration is unrolled to mirror the Spark
    plan exactly (same integer ops, same dangling-mass variant)."""
    preds = ", ".join(f"'{p}'" for p in edge_preds)
    base = (BASE_MICRO * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    parts = [
        f"edges AS (SELECT DISTINCT subj AS src, obj AS dst FROM quads WHERE pred IN ({preds}))",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        f"pr0 AS (SELECT node, CAST({BASE_MICRO} AS BIGINT) AS rank_micro FROM nodes)",
    ]
    prev = "pr0"
    for i in range(1, iterations + 1):
        parts.append(
            f"in{i} AS (SELECT e.dst AS node, "
            f"sum(CAST(floor(p.rank_micro / o.outdeg) AS BIGINT)) AS inflow "
            f"FROM {prev} p JOIN outdeg o ON p.node = o.src "
            f"JOIN edges e ON e.src = o.src GROUP BY e.dst)"
        )
        parts.append(
            f"pr{i} AS (SELECT n.node, CAST({base} + "
            f"floor(coalesce(i.inflow, 0) * {DAMP_NUM} / {DAMP_DEN}) AS BIGINT) "
            f"AS rank_micro FROM nodes n LEFT JOIN in{i} i ON n.node = i.node)"
        )
        prev = f"pr{i}"
    parts.append(f"pr_final AS (SELECT node, rank_micro FROM {prev})")
    return ",\n".join(parts)
