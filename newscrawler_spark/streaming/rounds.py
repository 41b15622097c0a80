"""Structured Streaming analogs of the reference's micro-batch loop.

The reference's scheduler poll loop (``src/scrapers/scheduler.py:
324-338``, 5 s poll) is a micro-batch engine in disguise; its per-domain
token bucket (``src/scrapers/rate_limiter.py:87-134``) is a stateful
per-key operator.  The batch crawler models these as rounds (T1-T5);
this module provides the true Structured Streaming forms for
continuously-arriving frontiers:

  * ``windowed_event_counts`` — event-time tumbling window aggregation
    with a watermark for late data (T2/T4);
  * ``host_token_bucket_stream`` — ``applyInPandasWithState`` per-host
    token bucket: admits up to ``budget`` URLs per host ACROSS the
    stream's lifetime, carrying the remaining token count in state (T3)
    — the stateful shape; a per-trigger refill needs no state at all.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.events import epoch_day


def windowed_event_counts(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """readStream(parquet) → watermark → tumbling-window agg.

    Returns the streaming DataFrame; callers attach a sink.  With a
    memory sink + ``processAllAvailable`` a parquet directory drives the
    query to completion synchronously (hermetic tests/oracle)."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # integer ten-thousandths, summed as long: a raw double sum
            # is accumulation-order-dependent (partition merge order vs
            # the oracle's scan order) — same discipline as _CENTS in
            # __spark_entry__.py
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("total_value_e4"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "total_value_e4",
        )
    )


def _run_pinned(streaming_df: DataFrame, state_partitions: int, start_fn) -> None:
    """Shared runner scaffolding: pin ``spark.sql.shuffle.partitions``
    to the expected STATE volume, start the query via
    ``start_fn(writeStream)``, drive it to completion, restore the conf.

    The pin matters: a stateful agg creates one state-store instance
    PER shuffle partition PER batch, and the store lifecycle (provider
    init, delta file, snapshot, commit) dominates a small-state query —
    measured 2.4-2.8 s/batch at 32 partitions vs 0.4-0.8 s at 4-8 for
    the identical 100k-row window agg (the r02 streaming_windowed 2×
    regression was exactly this: the bench session runs at shuffle=32).
    State partitioning is frozen into the checkpoint at first start, so
    this must be set BEFORE ``start()``; size it to expected STATE
    volume (windows × keys), never to input volume.

    NOT re-entrant: shuffle partitioning is session-global in Spark
    (a streaming query cannot carry its own), so while the query runs
    any batch job submitted concurrently on the SAME session plans its
    shuffles at ``state_partitions`` wide.  Callers driving bounded
    hermetic streams (tests, the oracle gate) run them to completion
    before other work — do not start one concurrently with batch jobs.
    """
    spark = streaming_df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = start_fn(streaming_df.writeStream)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_to_completion(
    streaming_df: DataFrame, name: str, state_partitions: int = 8
) -> DataFrame:
    """Drive a bounded streaming query to completion via a memory sink;
    returns the result as a batch DataFrame.  (State-store sizing
    rationale: :func:`_run_pinned`.)"""
    _run_pinned(
        streaming_df,
        state_partitions,
        lambda w: w.outputMode("complete").format("memory").queryName(name).start(),
    )
    return streaming_df.sparkSession.table(name)


def run_to_file_sink(
    streaming_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    state_partitions: int = 8,
) -> DataFrame:
    """Append-mode parquet-sink twin of :func:`run_to_completion` — the
    SCALE-SAFE shape: ``complete`` + memory sink re-emits and holds the
    whole aggregate on the driver every batch, while append mode emits
    each window exactly once when the watermark passes its end and
    evicts its state, so driver memory and per-batch output are bounded
    by the watermark horizon, not the stream's lifetime.

    Only watermark-FINALIZED windows appear in the sink (windows still
    inside the watermark horizon at end-of-input are never emitted —
    inherent to append semantics on a bounded input; the oracle mirrors
    the cut).  Returns the sink read back as a batch DataFrame.
    """
    spark = streaming_df.sparkSession
    _run_pinned(
        streaming_df,
        state_partitions,
        lambda w: w.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start(),
    )
    import os

    # zero finalized windows (input span ≤ window + watermark) leaves
    # only _spark_metadata in the sink dir — the correct result is the
    # empty relation the oracle's watermark cut also produces.  The
    # check is explicit (no data files) rather than a bare except: a
    # bare handler would convert a GENUINE read failure (corrupt part
    # file, permissions) into a silently-empty result.
    has_data = os.path.isdir(sink_dir) and any(
        f.endswith(".parquet") for f in os.listdir(sink_dir)
    )
    if not has_data:
        return spark.createDataFrame([], streaming_df.schema)
    return spark.read.parquet(sink_dir)


def dedup_stream(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming insert-if-absent (S8's continuous twin): emit each key's
    FIRST arrival, state bounded by the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps one state row per key seen
    within the last ``watermark`` of event time and evicts older keys —
    the shape a 10^10-URL continuous frontier needs (the batch crawler's
    seen-set anti-join holds ALL history; a streaming dedup must bound
    state or die, and eviction is correct exactly when re-crawl policy
    says "a URL re-arriving after `watermark` is due again").  Reference
    twin: the scheduler's already-queued check
    (src/scrapers/scheduler.py:371-388) + article_exists insert guard.

    Only the key columns are projected so the emitted relation equals
    DISTINCT(keys) whenever every duplicate pair arrives within one
    watermark horizon (true for a bounded replay in one micro-batch) —
    which is what makes the operator exactly SQL-oracle-able.
    """
    keys = keys or ["event_type", "user_id"]
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .select("ts", *keys)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def run_append_to_memory(
    streaming_df: DataFrame, name: str, state_partitions: int = 8
) -> DataFrame:
    """Append-mode memory-sink runner for bounded streaming inputs
    (dedup / non-windowed stateful ops that cannot run ``complete``).
    Same state-store sizing rationale as :func:`_run_pinned`."""
    _run_pinned(
        streaming_df,
        state_partitions,
        lambda w: w.outputMode("append").format("memory").queryName(name).start(),
    )
    return streaming_df.sparkSession.table(name)


def _token_bucket_fn(budget: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (host,) = key
        tokens = state.get[0] if state.exists else budget
        # Concatenate ALL of this trigger's chunks BEFORE sorting: the
        # iterator yields one pandas frame per Arrow batch (maxRecordsPerBatch
        # rows), and per-chunk sort+admit would consume tokens in
        # nondeterministic post-shuffle chunk order — a priority-1 URL in
        # chunk 2 losing to priority-3 URLs in chunk 1.  The admitted set
        # must be the global (priority, url_hash) prefix of the whole
        # host group, exactly like the batch politeness window.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            grp = (
                pd.concat(chunks)
                .sort_values(["priority", "url_hash"])
                .reset_index(drop=True)
            )
            admit = grp.iloc[: max(tokens, 0)]
            tokens -= len(admit)
            if len(admit):
                yield admit.assign(host=host)[
                    ["host", "canon_url", "url_hash", "priority"]
                ]
        state.update((tokens,))

    return fn


def host_token_bucket_stream(frontier_stream: DataFrame, budget: int = 10) -> DataFrame:
    """Per-host stateful admission over a streaming frontier: at most
    ``budget`` URLs per host across the stream's lifetime until state
    reset — the Structured Streaming twin of operators/politeness."""
    return frontier_stream.groupBy("host").applyInPandasWithState(
        _token_bucket_fn(budget),
        outputStructType="host string, canon_url string, url_hash long, priority long",
        stateStructType="tokens int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_join_stream(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    horizon: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: each ``view`` joined to every
    ``purchase`` by the same user within ``horizon`` after it — the
    canonical attribution shape (and the continuous twin of the batch
    as-of/reporting joins J4/events_asof).

    Spark-first mechanics: two watermarked readStreams over the same
    source, inner-joined on the user key plus an event-time RANGE
    condition.  The range bound is what lets the state store evict: a
    buffered view can only ever match purchases up to ``view_ts +
    horizon``, so once the purchase-side watermark passes that point
    the row is dropped — state is bounded by ``horizon + watermark`` of
    input, never the stream's lifetime (the only join shape that
    survives an unbounded stream).  Inner-join emissions are
    watermark-independent (each match emits when its second side
    arrives), so a bounded replay yields exactly the batch interval
    join — the DuckDB oracle's plain self-join.

    Output: (user_id, view_id, purchase_id, latency_us) with integer
    microsecond latency (exact cross-engine timestamp arithmetic —
    the T4 lesson: no double seconds).
    """
    views = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("buyer_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", watermark)
    )
    return views.join(
        purchases,
        (F.col("user_id") == F.col("buyer_id"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        (
            F.unix_micros(F.col("buy_ts")) - F.unix_micros(F.col("view_ts"))
        ).cast("long").alias("latency_us"),
    )


def session_window_counts(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """True streaming sessionization: ``session_window(ts, gap)`` per
    user — the native stateful session primitive (the batch
    gaps-and-islands twin is operators/events.sessionize; Flink's
    session windows are the same shape).  State merges adjacent
    sessions as events arrive and is evicted by the watermark, so
    memory is bounded by ACTIVE sessions, not stream length.

    Boundary pin (asserted by the boundary pytest): an event at
    exactly ``last_ts + gap`` MERGES into the session — Spark treats
    the session interval as closed for the merge test, so the break
    rule is the batch twin's strict ``> gap``.  The DuckDB oracle
    replays that rule with ``win_end = max(ts) + gap``.
    """
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_events",
            "n_errors",
        )
    )


def enriched_stream_counts(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    dim: DataFrame,
    dim_key: str = "user_id",
    dim_col: str = "tier",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-STATIC broadcast enrichment → watermarked tumbling-window
    rollup — the standard dimension-join pattern (user/device/geo
    lookup on an event stream).  The static side broadcasts once and
    joins per micro-batch with NO streaming state (unlike
    stream-stream joins there is nothing to watermark on the dim
    side), so the only state is the windowed aggregate's — bounded by
    the watermark horizon.  Per-batch results equal the batch join,
    which is exactly what the DuckDB oracle computes."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    joined = stream.join(F.broadcast(dim), dim_key)
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), dim_col)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias(
                "total_value_e4"
            ),
        )
        .select(
            F.col("win.start").alias("win_start"),
            dim_col,
            "n",
            "total_value_e4",
        )
    )


def windowed_daily_cents(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """readStream → watermark → tumbling 1-DAY window → per-type cents
    sum: the streaming maintenance of the daily aggregate the CUSUM
    changepoint detector consumes (operators/events.cusum_over_daily).
    Integer cents (the repo-wide no-raw-double-sum discipline); the
    day id is the batch path's (operators/events.epoch_day), so the
    streaming sink rows are row-identical to the batch daily aggregate
    over the finalized horizon."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("daily_cents")
        )
        .select(
            epoch_day("unix_micros(win.start)")
            .cast("long")
            .alias("day"),
            "event_type",
            "daily_cents",
        )
    )
