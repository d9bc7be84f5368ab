"""Structured Streaming surfaces.

The reference has no streaming layer (SURVEY.md §2.4); the north rule's
resumability requirement is met by the batch MERGE + per-partition
manifests in pipeline/materialize.py. These streaming operators are the
*engine extension* for continuously-arriving inputs:

* :func:`stream_construct_kg` — micro-batch KG construction: a streaming
  source of repo-table rows is run through the same ``construct_kg`` plan
  per micro-batch via ``foreachBatch`` and MERGE-committed into a
  ``ParquetQuadStore`` — idempotent under replays because the merge is
  keyed on the full quad (exactly-once *effect* on top of Spark's
  at-least-once restart semantics, the standard foreachBatch discipline).
* :func:`hourly_event_rollup` — watermarked windowed aggregation over an
  event stream (late data tolerated up to the watermark), the streaming
  twin of the batch ``events_hourly`` query in ``__spark_entry__``.
* :func:`stream_exact_dedup` — streaming exact deduplication: content
  fingerprints are dropped as duplicates within the watermark horizon
  (``dropDuplicatesWithinWatermark``), so state stays bounded while a
  continuously-ingested corpus is deduped on the fly.
* :func:`stream_user_sessions` — a CUSTOM STATEFUL operator
  (``applyInPandasWithState``): per-user sessionization whose state (last
  event time, running session/event counts) survives micro-batch
  boundaries — a session spanning two batches is counted once. The
  streaming twin of the batch ``user_sessions`` lag-window query.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from ontograph_spark.pipeline.construct import DEFAULT_GRAPH, constructed
from ontograph_spark.store.parquet_store import ParquetQuadStore


def stream_construct_kg(
    files_stream: DataFrame,
    store: ParquetQuadStore,
    checkpoint_dir: str,
    graph_uri: str = DEFAULT_GRAPH,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Run KG construction per micro-batch and MERGE into the store."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with constructed(
            batch_df.sparkSession, batch_df, graph_uri, include_schema=(batch_id == 0)
        ) as quads:
            store.merge_df(quads)

    writer = (
        files_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_construct_kg_with_closure(
    files_stream: DataFrame,
    store: ParquetQuadStore,
    closure_store: ParquetQuadStore,
    checkpoint_dir: str,
    graph_uri: str = DEFAULT_GRAPH,
    trigger_once: bool = True,
    owl_rules: bool = True,
) -> StreamingQuery:
    """KG construction with a continuously-maintained RDFS/OWL closure.

    Per micro-batch: construct quads, MERGE them into ``store``, then
    bring ``closure_store`` (the materialized entailment) up to date —
    **incrementally**: after the first batch seeds the full closure,
    each batch pays :func:`~ontograph_spark.ontology.inference.
    rdfs_closure_delta`'s delta-sized fixpoint, not a recompute. A
    batch that turns out to carry schema triples (delta maintenance
    would be unsound) falls back to a full recompute of the closure —
    correct either way, just slower for that batch.

    Replay-idempotent like :func:`stream_construct_kg`: both merges are
    set-MERGEs and a replayed batch's delta against the already-updated
    closure is empty."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ontograph_spark.ontology.inference import (
            rdfs_closure,
            rdfs_closure_delta,
        )

        spark = batch_df.sparkSession
        with constructed(
            spark, batch_df, graph_uri, include_schema=(batch_id == 0)
        ) as quads:
            store.merge_df(quads)
            closure = closure_store.df().select("subj", "pred", "obj")
            if not closure.take(1):
                delta = rdfs_closure(store.df(), owl_rules=owl_rules)
            else:
                try:
                    delta = rdfs_closure_delta(
                        closure,
                        quads.select("subj", "pred", "obj"),
                        owl_rules=owl_rules,
                    )
                except ValueError:  # schema in the delta ⇒ full recompute
                    delta = rdfs_closure(store.df(), owl_rules=owl_rules)
            closure_store.merge_df(
                delta.withColumn("graph", F.lit(graph_uri))
            )

    writer = (
        files_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hourly_event_rollup(
    events_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked hourly rollup: late events beyond the watermark are
    dropped; state is bounded by the watermark horizon."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n",
            "sum_value_cents",
        )
    )


def stream_exact_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on the content fingerprint (md5 of the
    whitespace-normalized, lowercased text — functions/text.py): emit
    each fingerprint's first arrival, drop re-arrivals within the
    watermark horizon.

    State discipline at scale: ``dropDuplicatesWithinWatermark`` keeps
    one fixed-width state row per fingerprint and EVICTS it once the
    watermark passes — unbounded-corpus safe, unlike a plain streaming
    ``dropDuplicates`` whose state grows forever. The key is the 32-hex
    digest, not the document text, so state rows stay small and the
    pre-shuffle projection is one whole-stage-codegen md5."""
    from ontograph_spark.functions.text import fingerprint

    return (
        docs_stream.withColumn("_fp", fingerprint(text_col))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_sessions", LongType(), False),
        StructField("n_events", LongType(), False),
    ]
)

#: per-user state carried across micro-batches
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType(), True),
        StructField("n_sessions", LongType(), True),
        StructField("n_events", LongType(), True),
    ]
)


def stream_user_sessions(
    events_stream: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Stateful streaming sessionization via ``applyInPandasWithState``:
    a session starts when the gap to the user's previous event exceeds
    ``gap_seconds``. Each micro-batch emits the user's RUNNING totals
    (update semantics — the latest row per user is the answer, and
    ``n_events`` is monotonic so ``max`` selects it).

    State discipline at scale: one tiny fixed-width row per user (last
    event epoch + two counters), grouped by ``user_id`` so state shuffles
    once per batch on the natural key; no per-event state growth. Events
    WITHIN a batch are sorted by (ts, event_id) before folding — Spark
    guarantees no cross-batch reordering of the source, which is the same
    in-order contract a Kafka-partition-per-user deployment provides."""

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for ts in batch["ts"].astype("int64") // 10**9:
            ts = int(ts)
            if last_ts is None or ts - last_ts > gap_seconds:
                n_sessions += 1
            n_events += 1
            last_ts = ts
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
