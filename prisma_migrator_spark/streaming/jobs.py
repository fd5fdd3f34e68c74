"""Structured Streaming jobs over the events log.

The batch window queries in :mod:`windows` become incremental
streaming jobs by swapping the source for ``readStream`` and adding a
watermark — the transformations are shared, which is the point of
expressing them with Spark's native window operators.

These run with the file source (a directory of parquet) and
``trigger(availableNow=True)`` in tests; in production the source is
Kafka/queue and the trigger a processing interval. State (session
windows, late data) is handled by Spark's state store — per-key,
partitioned, checkpointed; nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from prisma_migrator_spark.streaming.windows import tumbling_windows


def read_events_stream(
    spark: SparkSession, path: str, schema=None, watermark: str = "1 hour"
) -> DataFrame:
    """File-source stream of the events table with an event-time
    watermark (bounds state; late rows beyond it are dropped)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    # Parquet written with isAdjustedToUTC=false infers TIMESTAMP_NTZ,
    # which withWatermark rejects; event time must be TIMESTAMP. The
    # convert_timezone round trip reinterprets the wall clock as UTC
    # under ANY session timezone (a bare cast would shift event times,
    # watermarks, and window boundaries in non-UTC sessions).
    if "ts" in stream.schema.fieldNames() and isinstance(
        stream.schema["ts"].dataType, TimestampNTZType
    ):
        stream = stream.withColumn(
            "ts",
            F.expr("cast(convert_timezone('UTC', current_timezone(), ts) as timestamp)"),
        )
    return stream.withWatermark("ts", watermark)


def streaming_event_counts(events: DataFrame, size: str = "1 hour") -> DataFrame:
    """Incremental tumbling counts per event_type."""
    return tumbling_windows(
        events,
        "ts",
        size,
        keys=["event_type"],
        aggs=[F.count("*").alias("n_events"), F.sum("value").alias("total_value")],
    )


def streaming_dedup_events(events: DataFrame, id_col: str = "event_id") -> DataFrame:
    """Exactly-once event stream via
    ``dropDuplicatesWithinWatermark``: re-deliveries of an event id
    within the watermark horizon are dropped, and state for ids older
    than the watermark is EVICTED — plain ``dropDuplicates`` on a
    non-watermark key keeps its seen-set forever, which is what makes
    this variant the bounded-state scale path."""
    return events.dropDuplicatesWithinWatermark([id_col])


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    lookback: str = "1 hour",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound:
    pair each left event with right events of the same key whose
    timestamp falls in ``[left.ts - lookback, left.ts]``.

    The time bound + watermarks are what make this bounded-state: each
    side buffers only rows younger than watermark + lookback; without
    the interval condition Spark would (correctly) refuse the
    stream-stream join as requiring infinite state. Both inputs must
    be watermarked (see :func:`read_events_stream`).
    """
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_type"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("l_event_id") != F.col("r_event_id"))
    )
    return l.join(r, cond, "inner").select(
        F.col("l_key").alias(key),
        "l_event_id",
        "r_event_id",
        "r_type",
        "l_ts",
        "r_ts",
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain the stream into an in-memory table (tests/demos): one
    availableNow pass over everything currently in the source."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_parquet(
    df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"
) -> dict | None:
    """Drain the stream into a parquet sink with a checkpoint — the
    production shape. The checkpoint stores source offsets + operator
    state, so a later run with the same location resumes where the
    previous one stopped: already-committed input is never reprocessed
    (exactly-once file sink), and stateful operators (dedup, windows)
    restore their state. One availableNow pass per call.

    Returns the final StreamingQueryProgress dict (None if no batch
    ran) — ``stateOperators[*].numRowsTotal`` is how production
    monitors that TTL eviction is actually bounding state."""
    q = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.lastProgress


def streaming_ingest_corpus(
    docs: DataFrame, min_quality: float = 0.3
) -> DataFrame:
    """End-to-end incremental corpus ingest: quality filter →
    content-fingerprint attach (both stateless column maps) →
    in-stream first-seen dedup (stateful). The streaming form of the
    batch ``clean_corpus`` pipeline: point it at a landing directory
    with a checkpointed sink (:func:`run_to_parquet`) and every
    micro-batch of raw documents becomes deduped, quality-gated
    training corpus, exactly once, resumable.

    Scale: the stateless stages are pure codegen'd maps; dedup state is
    one boolean per distinct fingerprint, partitioned on fingerprint.
    For an unbounded crawl, bound state by a TTL'd fingerprint horizon
    (EventTimeTimeout) or periodic batch re-dedup of the sink.
    """
    from prisma_migrator_spark.llm.text import content_fingerprint, quality_score
    from prisma_migrator_spark.streaming.stateful import streaming_ingest_dedup

    kept = docs.where(F.round(quality_score(F.col("text")), 6) >= min_quality)
    with_fp = kept.select(
        "doc_id", "text", "lang", "source",
        content_fingerprint(F.col("text")).alias("fingerprint"),
    )
    return streaming_ingest_dedup(with_fp)


def run_upsert_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    update_cols: list[str] | None = None,
    order_col: str | None = None,
) -> dict | None:
    """Drain a stream into a KEYED parquet table via per-micro-batch
    MERGE (``foreachBatch`` + :func:`writers.upsert.upsert_parquet`)
    — the streaming CDC-apply shape the reference's upsert loop
    (src/utils/lib.ts:76-95) becomes when the source is a queue
    instead of a scraper.

    Exactly-once WITHOUT a transactional sink: the checkpoint gives
    at-least-once micro-batch delivery, and the MERGE is idempotent
    (same batch re-applied converges to the same table), so replayed
    batches after a crash cannot duplicate or corrupt rows — the
    standard foreachBatch-upsert contract. ``order_col`` makes
    in-batch replays deterministic (latest-wins within the batch).

    Scale: each micro-batch pays one MERGE join keyed on the conflict
    target. Swap ``upsert_parquet`` for ``upsert_parquet_cow`` /
    ``upsert_partitioned`` when the table outgrows full rewrites —
    the sink contract is unchanged.
    """
    from prisma_migrator_spark.writers.upsert import upsert_parquet

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_parquet(
            batch.sparkSession, batch, path, key_cols, update_cols, order_col
        )

    q = (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.lastProgress


def streaming_interval_join_left(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    lookback: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    :func:`streaming_interval_join`, but left events with NO match in
    their lookback window still emit (NULL right side) — the shape
    behind "views with or without a preceding click".

    Outer results can only emit once the watermark passes the point
    where a match could still arrive, so NULL rows surface with
    watermark delay — correctness over latency, which is the right
    trade for batch-replayed backfills. Both sides must carry a
    watermark AND the join's time bound, same as the inner form
    (state stays bounded by watermark + lookback)."""
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_type"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("l_event_id") != F.col("r_event_id"))
    )
    return l.join(r, cond, "leftOuter").select(
        F.col("l_key").alias(key),
        "l_event_id",
        "r_event_id",
        "r_type",
        "l_ts",
        "r_ts",
    )


def streaming_ingest_near_dup(
    docs: DataFrame,
    n_bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 3,
    **near_dup_kwargs,
) -> DataFrame:
    """NEAR-dup streaming ingest — the fuzzy upgrade of
    :func:`streaming_ingest_corpus`'s exact-fingerprint stage:
    quality gate -> ROW-LOCAL SimHash (``llm/dedup.simhash_expr`` —
    the signature folds inside one JVM higher-order aggregate, so no
    per-doc aggregation shuffle precedes the stateful operator;
    that shuffle-free form is what makes SimHash streamable at all)
    -> banded stateful verdicts
    (``streaming/stateful.streaming_near_dup_verdicts``). Returns
    the band-verdict stream; reduce per micro-batch with
    ``reduce_near_dup_verdicts`` in ``foreachBatch``. Extra kwargs
    (``ttl``, ``max_bucket``, ``ts_col``) pass through to the
    stateful stage."""
    from prisma_migrator_spark.llm.dedup import simhash_expr
    from prisma_migrator_spark.llm.text import quality_score
    from prisma_migrator_spark.streaming.stateful import (
        streaming_near_dup_verdicts,
    )

    kept = docs.where(F.round(quality_score(F.col("text")), 6) >= 0.3)
    carry = [c for c in ("ts",) if c in docs.columns]
    sigs = kept.select(
        "doc_id",
        simhash_expr(F.col("text"), n_bits).alias("simhash"),
        *carry,
    )
    return streaming_near_dup_verdicts(
        sigs,
        n_bits=n_bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
        **near_dup_kwargs,
    )
