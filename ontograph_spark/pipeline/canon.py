"""Connected-components canonicalization over ``owl:sameAs`` edges.

Aliases minted as separate individuals are merged by computing connected
components over the alias edge set and rewriting every member to its
component representative (the lexicographically smallest IRI — a
deterministic choice, so reruns are idempotent).

Algorithm: iterative minimum-label propagation on DataFrames — each round
every node adopts the smallest label among itself and its neighbors;
``localCheckpoint`` truncates lineage per round. Convergence takes
O(diameter) rounds; alias graphs are star-shaped (diameter ≤ 2). The loop
runs until no label changes, which always terminates: labels only
decrease, and each is one of finitely many node ids. A deep chain costs one
round per hop; for adversarially deep graphs swap in the
large-star/small-star variant — the driver loop and checkpoint discipline
stay the same. No GraphFrames dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontograph_spark.functions import graph_algo
from ontograph_spark.terms import local_frame


def connected_components(edges: DataFrame) -> DataFrame:
    """``(src, dst)`` string edges → ``(node, component)`` where component
    is the min node id of the component. Only nodes that appear in an edge
    are returned (isolated nodes are their own trivial component)."""
    und = (
        edges.select(F.col("src"), F.col("dst"))
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    while True:
        neighbor_min = (
            und.join(labels, und["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        new_labels = (
            labels.unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels


def canonical_mapping(
    edges: DataFrame, assume_large: bool = False
) -> DataFrame:
    """``(src, dst)`` alias edges → ``(node, component)`` rewrite mapping
    where the representative of each component is, in order of preference,
    (a) the smallest member that appears as an edge *target* (a canonical
    dictionary term), else (b) the smallest member. This keeps dictionary
    canonicals stable under merges instead of letting a lexicographically
    small alias win.

    Hybrid execution: edge sets of at most ``graph_algo.DRIVER_EDGE_LIMIT``
    rows are collected and solved with union-find on the driver (a
    distributed iteration on a tiny graph is pure scheduler overhead);
    larger sets run the distributed label-propagation loop. Both paths
    produce identical mappings (tests/test_pipeline.py runs the loop with
    the limit patched to 0 against ``union_find_mapping``).

    Action discipline: the small path costs exactly ONE Spark action (a
    bounded ``take``) — no checkpoint, no separate count — because this
    sits on the critical path of every construction run. Callers that
    already probed the size (construct_kg's own bounded take) pass
    ``assume_large=True`` so the oversized fallback doesn't pay a second
    100k-row driver transfer."""
    if not assume_large:
        limit = graph_algo.DRIVER_EDGE_LIMIT
        sample = edges.take(limit + 1)
        if len(sample) <= limit:
            out = union_find_mapping([(r["src"], r["dst"]) for r in sample])
            return local_frame(
                edges.sparkSession, out, "node string, component string"
            )
    edges = edges.localCheckpoint(eager=True)
    comp = connected_components(edges)
    targets = edges.select(F.col("dst").alias("node")).distinct()
    canon_reps = (
        comp.join(targets, on="node", how="left_semi")
        .groupBy("component")
        .agg(F.min("node").alias("canon_rep"))
    )
    min_reps = comp.groupBy("component").agg(F.min("node").alias("min_rep"))
    reps = min_reps.join(canon_reps, on="component", how="left").select(
        "component",
        F.coalesce("canon_rep", "min_rep").alias("rep"),
    )
    return (
        comp.join(reps, on="component")
        .where(F.col("node") != F.col("rep"))
        .select("node", F.col("rep").alias("component"))
    )


def union_find_mapping(
    edge_tuples: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Pure-Python union-find over ``(src, dst)`` string edges →
    ``[(node, representative)]`` for every non-representative node.
    Representative preference matches the distributed path: smallest
    member that appears as an edge target, else smallest member."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    targets: set[str] = set()
    for src, dst in edge_tuples:
        targets.add(dst)
        ra, rb = find(src), find(dst)
        if ra != rb:
            lo, hi = sorted([ra, rb])
            parent[hi] = lo
    members: dict[str, list[str]] = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    out: list[tuple[str, str]] = []
    for nodes in members.values():
        canon = sorted(n for n in nodes if n in targets)
        rep = canon[0] if canon else min(nodes)
        out.extend((n, rep) for n in nodes if n != rep)
    return out


def rewrite_terms(quads: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj and obj through a (node → component) mapping of
    *encoded resource terms*. Two left joins; the mapping is small (one
    row per aliased entity), so it broadcasts — no shuffle of the quad
    stream."""
    m = F.broadcast(mapping.select("node", "component"))
    q = quads
    q = (
        q.join(m, q["subj"] == m["node"], "left")
        .select(
            F.coalesce("component", "subj").alias("subj"),
            "pred",
            "obj",
            "graph",
        )
    )
    q = (
        q.join(m, q["obj"] == m["node"], "left")
        .select(
            "subj",
            "pred",
            F.coalesce("component", "obj").alias("obj"),
            "graph",
        )
    )
    return q
