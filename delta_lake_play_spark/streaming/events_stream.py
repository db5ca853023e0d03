"""Structured Streaming layer over the ``events`` table
(SURVEY.md §2.10 — the reference has no streaming; this is the EXT
surface for the events stream).

Design rule: every streaming computation is a *builder* that takes a
DataFrame and returns a DataFrame, applied identically to
``spark.read`` (batch, for the driver's DuckDB oracle) and
``spark.readStream`` (with watermarks, for the real incremental
path). Batch/stream parity is therefore a property of the code
shape, and is asserted in ``tests/test_streaming.py`` by running the
stream with ``trigger(availableNow)`` + ``foreachBatch`` capture.

Scale notes: windowed aggregations shuffle on (window, key) — state
store size is bounded by windows × keys, and the watermark bounds how
many windows stay open. ``dropDuplicates`` state is bounded by the
watermark horizon. The foreachBatch sink reuses the versioned-table
MERGE (same semantics as ``api.py:92-102`` in the reference, batch by
batch).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_play_spark.sources.catalog import (
    load_table,
    normalize_timestamps,
    source_schema,
)

WATERMARK = "15 minutes"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, normalized exactly
    as the batch reader normalizes it: the same held schema and ns
    column set (:func:`~delta_lake_play_spark.sources.catalog.source_schema`,
    no inference job once the batch side has loaded the file) and the
    same conversions (``normalize_timestamps``) on EVERY timestamp
    column, so batch and stream see identical column types. NTZ
    columns must convert: watermarks reject them
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    path = os.path.join(sf_dir, "events.parquet")
    schema, ns_cols, _ = source_schema(spark, path)
    # The file source requires a directory basePath; a glob whose
    # non-glob prefix is the directory satisfies it while matching
    # exactly the events file.
    stream = spark.readStream.schema(schema).parquet(path + "*")
    return normalize_timestamps(spark, stream, schema, ns_cols)


def tumbling_counts(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Per-10-minute (event_type) counts + exact-grid value sum — the
    canonical tumbling window. Window start is epoch-aligned in both
    Spark and DuckDB's ``time_bucket``, so the batch form
    oracle-checks exactly. Only streaming-supported aggregates
    (count / sum — no distinct), so the same builder runs unchanged
    under readStream with a watermark."""
    from delta_lake_play_spark.functions.exact import dsum

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value", 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in
    exactly size/slide = 2 windows."""
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def session_aggs(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.
    ``session_window`` end = last event + gap; a new session starts
    when the gap to the previous event is ≥ the gap duration."""
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def hourly_user_stats(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Hourly per-window distinct users + max value. With
    ``watermark`` set (streaming), events later than the watermark
    horizon are dropped and window state is evicted; on a batch
    DataFrame ``withWatermark`` is a no-op, so the batch form is the
    complete-data answer the stream converges to.

    Exact distinct without ``countDistinct`` — which Spark's
    UnsupportedOperationChecker rejects on streams: two CHAINED
    aggregations, (window, user) partials then a per-window rollup
    (n = Σ partial counts, n_users = #groups, max = max of partial
    maxes). Chained stateful aggregations are streaming-legal in
    Spark 4 (append mode + watermark); identical arithmetic in batch.
    Parity pinned by tests/test_streaming.py."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    per_user = events.groupBy(F.window("ts", "1 hour"), "user_id").agg(
        F.count("*").alias("n_u"), F.max("value").alias("mv")
    )
    return (
        per_user.groupBy("window")
        .agg(
            F.sum("n_u").alias("n"),
            F.count(F.lit(1)).alias("n_users"),
            F.max("mv").alias("max_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "n_users", "max_value")
    )


def dedup_events(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Exactly-once by event_id. The streaming form uses
    ``dropDuplicatesWithinWatermark`` so state entries are EVICTED
    once the watermark passes them — a plain ``dropDuplicates`` on a
    bare key never evicts (the event-time column isn't in the dedup
    subset), so a continuous stream would accumulate one state entry
    per id forever. Duplicates are only detected within the watermark
    horizon, which is the deal streaming dedup always offers. Batch
    form is plain ``dropDuplicates`` over the same key — the
    complete-data answer the stream converges to when duplicates
    arrive within the horizon."""
    if watermark is not None and events.isStreaming:
        return (
            events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
    return events.dropDuplicates(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def run_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream → versioned-table MERGE sink: every micro-batch upserts
    into a VersionedTable by event_id (one table version per batch,
    exactly the reference's MERGE semantics applied incrementally).
    Uses ``trigger(availableNow=True)`` so the call processes the
    whole source and terminates; returns the final snapshot."""
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    events = load_table(spark, sf_dir, "events")
    table = VersionedTable.create(spark, temp_table_path("stream_upsert"), events.limit(0))
    stream = read_events_stream(spark, sf_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(batch_df.dropDuplicates(["event_id"]), key="event_id")

    checkpoint = tempfile.mkdtemp(prefix="stream_upsert_ckpt_")
    query = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return table.to_df()


def stateful_user_counts(events_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running event counter whose state survives across
    micro-batches (the minimal template for bespoke streaming state —
    sessionizers, decaying counters, CEP — where the built-in
    windowed aggregates don't fit).

    Each batch updates the user's count state and emits the running
    total (update semantics), so the LAST emission per user is the
    complete count. State is one long per user — bounded by key
    cardinality, not event volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_counts(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update_counts,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_purchase_attribution(
    clicks: DataFrame, purchases: DataFrame, watermark: str | None = None
) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: for every click,
    the purchases by the same user within 30 minutes AFTER it — the
    attribution join. In streaming both sides carry a watermark and
    the join condition bounds event-time distance, so state for
    unmatched rows is evicted once the watermark passes the bound;
    without the time bound a stream-stream join would buffer forever.
    """
    if watermark is not None:
        clicks = clicks.withWatermark("ts", watermark)
        purchases = purchases.withWatermark("ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return c.join(p, cond).select(
        "click_id", "purchase_id", F.col("c_user").alias("user_id"),
        "click_ts", "purchase_ts",
    )


def tws_user_running_agg(events_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``transformWithStateInPandas``
    (the Spark 4 arbitrary-state API that supersedes
    ``applyInPandasWithState``: typed state handles on the RocksDB
    store, explicit init/close lifecycle, optional timers/TTL): a
    per-user running (count, exact-grid value sum). State is one
    (long, long) per user — bounded by key cardinality.

    Exact-grid discipline: ``value`` accumulates as integer
    hundredths inside the Python state (order-independent), so the
    emitted running sum is bit-identical to the oracle's dsum no
    matter how the source splits micro-batches. Update semantics —
    the emission with the highest count per user is the final total.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "cnt long, cents long")

        def handleInputRows(self, key, rows, timer_values):
            prev = self._agg.get()
            cnt, cents = (prev[0], prev[1]) if prev is not None else (0, 0)
            for pdf in rows:
                cnt += len(pdf)
                vals = pdf["value"].dropna()
                # 2-dp grid -> exact integer hundredths (never near a
                # rounding midpoint; see functions/exact.py)
                cents += int(round(float(vals.sum()) * 100)) if len(vals) else 0
            self._agg.update((cnt, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [cnt],
                    "sum_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningAgg(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def tws_available() -> bool:
    """``transformWithStateInPandas`` needs the protobuf wire format
    for its state-server protocol; without the ``google.protobuf``
    package the driver worker crashes at init. Probed up front so the
    running-agg key can fall back honestly (same semantics, older
    API) in environments without protobuf."""
    import importlib.util

    try:  # find_spec imports the parent package, which may not exist
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def user_running_agg_fallback(events_stream: DataFrame) -> DataFrame:
    """Env-blocked fallback for :func:`tws_user_running_agg`: the
    SAME per-user (count, integer-hundredths sum) state machine and
    emissions, expressed with ``applyInPandasWithState`` (which does
    not need protobuf). Runs on whatever state store provider the
    session configures — the running-agg key keeps RocksDB enabled so
    the store surface is exercised either way."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_agg(key, pdf_iter, state: GroupState):
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            cnt += len(pdf)
            vals = pdf["value"].dropna()
            cents += int(round(float(vals.sum()) * 100)) if len(vals) else 0
        state.update((cnt, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "sum_value": [cents / 100.0],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update_agg,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="cnt long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
