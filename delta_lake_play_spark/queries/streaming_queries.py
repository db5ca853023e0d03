"""Driver-facing entries for the streaming layer (SURVEY.md §2.10).

The driver contract collects a batch DataFrame, so each key registers
the *batch form* of the streaming computation — the same builder
function that ``tests/test_streaming.py`` runs as a real
``readStream``/``foreachBatch`` query and checks for batch/stream
parity. Watermark-dependent behavior is runtime-only, hence those
keys' oracles check the complete-data batch answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from delta_lake_play_spark.functions.local import empty_df, local_df
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table
from delta_lake_play_spark.streaming import events_stream as es

# --- stream_tumbling_window -----------------------------------------------

from delta_lake_play_spark.functions.exact import sql_dsum

_TUMBLING_ORACLE = f"""
SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
       event_type,
       count(*) AS n,
       {sql_dsum('value', 2)} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("stream_tumbling_window", oracle=_TUMBLING_ORACLE)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es.tumbling_counts(load_table(spark, sf_dir, "events"))


# --- stream_sliding_window ------------------------------------------------

# Size 10 min, slide 5 min ⇒ each event is in exactly two windows,
# starting at time_bucket(5min, ts) and 5 minutes before it.
_SLIDING_ORACLE = """
WITH b AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE, event_type FROM events
)
SELECT window_start, event_type, count(*) AS n
FROM b GROUP BY 1, 2
"""


@register("stream_sliding_window", oracle=_SLIDING_ORACLE)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es.sliding_counts(load_table(spark, sf_dir, "events"))


# --- stream_session_window ------------------------------------------------

# Gap-based sessionization: new session when the gap to the previous
# event is >= 30 minutes (session_window's end is last event + gap,
# so an event exactly at the previous end starts a new session).
_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
),
f AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM o
),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM f
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM s
GROUP BY user_id, session_id
"""


@register("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es.session_aggs(load_table(spark, sf_dir, "events"))


# --- stream_watermark_late ------------------------------------------------

_WATERMARK_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       max(value) AS max_value
FROM events
GROUP BY 1
"""


@register("stream_watermark_late", oracle=_WATERMARK_ORACLE)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the watermarked hourly aggregation (withWatermark
    is a no-op on batch data — the oracle checks the complete-data
    answer the stream converges to; the late-drop behavior itself is
    exercised in tests/test_streaming.py)."""
    return es.hourly_user_stats(
        load_table(spark, sf_dir, "events"), watermark=es.WATERMARK
    )


# --- stream_dedup_stateful ------------------------------------------------

_DEDUP_ORACLE = """
SELECT DISTINCT ON (event_id) event_id, ts, user_id, event_type, value
FROM events
"""


@register("stream_dedup_stateful", oracle=_DEDUP_ORACLE)
def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es.dedup_events(load_table(spark, sf_dir, "events"), watermark=es.WATERMARK)


# --- stream_foreachBatch_upsert ---------------------------------------------

# Batch boundaries are runtime-dependent, but the FINAL table state is
# not: event_id is unique in the source, so whatever the batch split,
# the converged MERGE-by-event_id table is exactly the events table —
# the same final-state-oracle idea as dml_merge_upsert (VERDICT r9
# ask #3 flipped this from rows-only to hash-checked).
_FOREACH_UPSERT_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


@register("stream_foreachBatch_upsert", oracle=_FOREACH_UPSERT_ORACLE)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs an actual availableNow stream whose every micro-batch
    MERGEs into a versioned table; returns the final snapshot."""
    return es.run_foreach_batch_upsert(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# --- stream_stateful_count (applyInPandasWithState) -----------------------

_STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
"""


@register("stream_stateful_count", oracle=_STATEFUL_ORACLE)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the applyInPandasWithState running counter as a real
    availableNow stream; the last (max) emission per user is the
    complete count regardless of how many micro-batches the source
    produced, which is what the oracle checks against a batch
    groupBy."""
    from pyspark.sql import functions as F

    stream = es.read_events_stream(spark, sf_dir)
    name = "stateful_counts_sink"
    # State shuffle width = one Arrow/Python worker pipeline per
    # partition; the key space is tiny (~15 users), so 32 partitions
    # would spin up 32 workers per batch for nothing. Scope the
    # setting to this query and restore afterwards.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            es.stateful_user_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name).groupBy("user_id").agg(
        F.max("n_events").alias("n_events")
    )


# --- stream_stream_join (interval attribution join) -----------------------

_SSJOIN_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@register("stream_stream_join", oracle=_SSJOIN_ORACLE)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the watermarked stream-stream interval join
    (click→purchase attribution within 30 minutes); the streaming
    form with state eviction runs in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    return es.click_purchase_attribution(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


# --- stream_table_source: versioned table as a streaming SOURCE -----------

_TABLE_SRC_ORACLE = """
SELECT * FROM customer
UNION ALL
SELECT c_custkey + 2000000 AS c_custkey, 'APPEND-' || c_name AS c_name,
       c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey % 25 = 7
"""


@register("stream_table_source", oracle=_TABLE_SRC_ORACLE)
def stream_table_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned table read as a real Structured Streaming SOURCE
    (Python DataSource API, ``sources/table_stream.py``): commit
    versions are offsets, each appended file is one input partition,
    and an availableNow pass drains CREATE + APPEND into a memory
    sink. This is the Delta ``spark.readStream.format('delta')``
    surface (reference ``README.md:9-11``) rebuilt Spark-first."""
    import uuid as _uuid

    from delta_lake_play_spark.queries.dml_queries import _appended_rows
    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    spark.dataSource.register(VersionedTableDataSource)
    # Few large files, not many tiny ones: each file is one Python
    # source task, and at this row count per-task overhead would
    # dominate 32 shards (measured 10.8s -> ~4s at sf0.1).
    t = VersionedTable.create(
        spark,
        temp_table_path(),
        load_table(spark, sf_dir, "customer").coalesce(2),
    )                                                 # v0
    t.append(_appended_rows(spark, sf_dir).coalesce(1))  # v1
    name = "table_src_" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("versioned_table")
        .load(t.path)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register("stream_table_source_jvm", oracle=_TABLE_SRC_ORACLE)
def stream_table_source_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same CREATE+APPEND drain as ``stream_table_source``, but through
    the JVM parquet file-stream source over the table's commit-dir
    glob (``sources/table_stream.py::stream_table_jvm``) — the
    zero-Python-overhead fast path for append-only tables: file
    discovery, decoding and offsets all stay JVM-side, which is the
    production choice for high-frequency append tailing."""
    import uuid as _uuid

    from delta_lake_play_spark.queries.dml_queries import _appended_rows
    from delta_lake_play_spark.sources.table_stream import stream_table_jvm
    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    t = VersionedTable.create(
        spark,
        temp_table_path(),
        load_table(spark, sf_dir, "customer").coalesce(2),
    )                                                 # v0
    t.append(_appended_rows(spark, sf_dir).coalesce(1))  # v1
    name = "table_src_jvm_" + _uuid.uuid4().hex[:8]
    q = (
        stream_table_jvm(spark, t.path)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- stream_medallion_gold ------------------------------------------------
# End-to-end streaming medallion with a REAL stream AND a hash oracle:
# bronze (versioned events table, two commits) → JVM file-stream
# source → each micro-batch appends its PARTIAL (event_type, count,
# value-cents) aggregate to a versioned gold table → the final read
# combines partials. Because the partials live on the exact integer
# grid and the combine is SUM, the result is identical under ANY
# micro-batch boundary placement — which is what lets a runtime
# stream be hash-compared at all (the other runtime-sink key,
# stream_foreachBatch_upsert, is rows-only by design).

_MEDALLION_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value', 2)} AS total_value
FROM events
GROUP BY event_type
"""


@register("stream_medallion_gold", oracle=_MEDALLION_ORACLE)
def stream_medallion_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import stream_table_jvm
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    ev = load_table(spark, sf_dir, "events")
    bronze = VersionedTable.create(
        spark, temp_table_path("medallion-bronze"),
        ev.where(F.col("event_id") % 2 == 0).coalesce(2),
    )
    bronze.append(ev.where(F.col("event_id") % 2 == 1).coalesce(2))

    gold = VersionedTable.create(
        spark,
        temp_table_path("medallion-gold"),
        empty_df(spark, "event_type string, n bigint, cents bigint"),
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
        )
        gold.append(partial)

    checkpoint = tempfile.mkdtemp(prefix="medallion_ckpt_")
    q = (
        stream_table_jvm(spark, bronze.path)
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return gold.to_df().groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        (F.sum("cents") / F.lit(100.0)).alias("total_value"),
    )


# --- stream_cdf_feed: the Change Data Feed as a streaming source ----------
# Delta's `readChangeFeed` streaming option rebuilt on the Python
# DataSource source: each commit's captured change files (or derived
# inserts for appends) become one micro-batch carrying _change_type +
# _commit_version. The oracle stacks the same three commits' feeds.

_CDF_STREAM_ORACLE = """
WITH s0 AS (SELECT * FROM customer WHERE c_custkey % 5 = 0),
s1 AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN COALESCE(c_nationkey < 5, FALSE)
              THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM s0
)
SELECT *, 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version FROM s0
UNION ALL
SELECT *, 'update_preimage', 1 FROM s0 WHERE COALESCE(c_nationkey < 5, FALSE)
UNION ALL
SELECT *, 'update_postimage', 1 FROM s1 WHERE COALESCE(c_nationkey < 5, FALSE)
UNION ALL
SELECT c_custkey + 3000000, 'CDC-' || c_name, c_nationkey, c_acctbal,
       c_mktsegment, 'insert', 2
FROM customer WHERE c_custkey % 50 = 1
"""


@register("stream_cdf_feed", oracle=_CDF_STREAM_ORACLE)
def stream_cdf_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE → UPDATE → APPEND on an enable_cdf=True table, drained
    through readStream.format('versioned_table')
    .option('readChangeFeed', 'true'): offsets are commit versions,
    one input partition per change file, pre/post images read verbatim
    from the capture files and appends derived as inserts — the
    streaming CDC-consumer surface (sources/table_stream.py)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    spark.dataSource.register(VersionedTableDataSource)
    c = load_table(spark, sf_dir, "customer")
    t = VersionedTable.create(
        spark,
        temp_table_path("cdf-stream"),
        c.filter(F.col("c_custkey") % 5 == 0).coalesce(2),
        enable_cdf=True,
    )                                                            # v0
    t.update({"c_acctbal": F.col("c_acctbal") + 10},
             F.col("c_nationkey") < 5)                           # v1
    t.append(
        c.filter(F.col("c_custkey") % 50 == 1).select(
            (F.col("c_custkey") + 3000000).alias("c_custkey"),
            F.concat(F.lit("CDC-"), F.col("c_name")).alias("c_name"),
            "c_nationkey", "c_acctbal", "c_mktsegment",
        ).coalesce(1)
    )                                                            # v2
    name = "cdf_feed_" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("versioned_table")
        .option("readChangeFeed", "true")
        .load(t.path)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- stream_exactly_once: idempotent sink via SetTransaction ---------------
# Delta's `txn` action (SetTransaction) is what makes foreachBatch
# sinks exactly-once: the sink tags each append with (appId,
# batch_id) and the table refuses re-application of any batch it has
# already recorded — so Structured Streaming's at-least-once batch
# replay (crash between sink write and checkpoint commit) cannot
# duplicate rows. The key replays EVERY batch inside the sink itself
# and the oracle proves single application.

_EXACTLY_ONCE_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events WHERE user_id % 4 = 1
GROUP BY event_type
"""


@register("stream_exactly_once", oracle=_EXACTLY_ONCE_ORACLE)
def stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow drain of a bronze table into a gold aggregate
    through an idempotent foreachBatch sink: every micro-batch is
    applied TWICE with the same (txn_app_id, batch_id) — the second
    application is the simulated at-least-once replay and lands as a
    SetTransaction no-op. The oracle's exact per-type counts only
    hash-match if each batch contributed exactly once."""
    import tempfile as _tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import stream_table_jvm
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 4 == 1)
    bronze = VersionedTable.create(
        spark, temp_table_path("eo-bronze"), ev.coalesce(2)
    )
    gold = VersionedTable.create(
        spark,
        temp_table_path("eo-gold"),
        empty_df(spark, "event_type string, n bigint"),
    )
    app_id = "gold-sink-" + _uuid.uuid4().hex[:8]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        gold.append(partial, txn_app_id=app_id, txn_version=batch_id)
        # simulated replay of the same micro-batch: must be a no-op
        gold.append(partial, txn_app_id=app_id, txn_version=batch_id)

    q = (
        stream_table_jvm(spark, bronze.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", _tempfile.mkdtemp(prefix="eo_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return gold.to_df().groupBy("event_type").agg(
        F.sum("n").alias("n_events")
    )


# --- stream_starting_version: bounded backfill entry point -----------------
# Delta's `startingVersion` option on the versioned_table source: the
# stream begins AT a commit version — increments only, no initial
# snapshot — which is how a 100 TB table's consumer avoids replaying
# the full history it already has. Pairs with maxVersionsPerTrigger
# (commit-granular admission control) for burst pacing; that option's
# batch-boundary behavior is pinned by
# tests/test_streaming.py::test_max_versions_per_trigger_paces_steady_state
# (batch layout is trigger-timing-dependent, so only the final content
# is oracle-checkable here).

_STARTING_VERSION_ORACLE = """
SELECT c_custkey + 2000000 AS c_custkey, 'APPEND-' || c_name AS c_name,
       c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey % 25 = 7
UNION ALL
SELECT c_custkey + 4000000, 'LATE-' || c_name,
       c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey % 25 = 12
"""


@register("stream_starting_version", oracle=_STARTING_VERSION_ORACLE)
def stream_starting_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE + two APPENDs, drained with startingVersion=1: the v0
    snapshot never enters the stream; exactly the two appended
    batches do (sources/table_stream.py)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    spark.dataSource.register(VersionedTableDataSource)
    c = load_table(spark, sf_dir, "customer")

    def tagged(mod: int, offset: int, prefix: str) -> DataFrame:
        return c.filter(F.col("c_custkey") % 25 == mod).select(
            (F.col("c_custkey") + offset).alias("c_custkey"),
            F.concat(F.lit(prefix), F.col("c_name")).alias("c_name"),
            "c_nationkey", "c_acctbal", "c_mktsegment",
        ).coalesce(1)

    t = VersionedTable.create(spark, temp_table_path("sv"), c.coalesce(2))  # v0
    t.append(tagged(7, 2000000, "APPEND-"))                                 # v1
    t.append(tagged(12, 4000000, "LATE-"))                                  # v2
    name = "sv_src_" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("versioned_table")
        .option("startingVersion", "1")
        .load(t.path)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- stream_transform_with_state (Spark 4 arbitrary state API) ------------

_TWS_ORACLE = f"""
SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events
GROUP BY user_id
"""


@register("stream_transform_with_state", oracle=_TWS_ORACLE)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, exact-grid sum) as a
    ``transformWithStateInPandas`` stream over the RocksDB state
    store (the API requires it; the provider is scoped to this query
    and restored). availableNow drains the source; update semantics
    make the max-count emission per user the complete total, which
    the oracle checks against a batch groupBy.

    Env gate: the TWS state-server protocol needs ``google.protobuf``
    (absent in this sandbox — verified, not installable); when
    missing, the SAME state machine runs via
    ``applyInPandasWithState`` (``es.user_running_agg_fallback``) on
    the same RocksDB provider, so semantics and store surface hold
    either way. tests/test_streaming.py pins that the real TWS path
    is taken whenever protobuf exists."""
    from pyspark.sql import functions as F

    stream = es.read_events_stream(spark, sf_dir)
    build = (
        es.tws_user_running_agg if es.tws_available() else es.user_running_agg_fallback
    )
    name = "tws_running_agg_sink"
    confs = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    last = spark.table(name).groupBy("user_id").agg(
        F.max(F.struct("n_events", "sum_value")).alias("b")
    )
    return last.select(
        "user_id",
        F.col("b.n_events").alias("n_events"),
        F.col("b.sum_value").alias("sum_value"),
    )


# --- stream_scd2_maintain: SCD2 kept current by the CDF stream ------------


def _scd2_oracle() -> str:
    from delta_lake_play_spark.queries.dml_queries import _SCD2_ORACLE

    return _SCD2_ORACLE


@register("stream_scd2_maintain", oracle=_scd2_oracle())
def stream_scd2_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming form of ``dml_scd2_build``: a type-2 dimension
    kept current by tailing the Change Data Feed
    (``readChangeFeed`` on the versioned_table source) and applying
    each micro-batch incrementally — batch opens/closes are merged
    with the target's OPEN rows for the affected keys via the same
    windowed min-close-after pass, then ``overwrite_where``
    (replaceWhere) swaps exactly those keys' rows in one atomic
    commit. Per-batch cost is change-sized: closed history rows for
    unaffected keys are never touched, and the replaceWhere key list
    is bounded by the batch. Hash-matching the SAME oracle as the
    batch build proves streaming maintenance converges to the batch
    result regardless of how the source split the commits.

    Batch granularity, honestly: under availableNow the pre-committed
    CDF backlog drains as ONE micro-batch (maxVersionsPerTrigger
    paces only post-start commits — the Python DataSource API limit
    documented in sources/table_stream.py); the apply logic is
    batch-split-agnostic by construction and live pacing is pinned by
    tests/test_streaming.py::test_max_versions_per_trigger_paces_
    steady_state."""

    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    from delta_lake_play_spark.queries.dml_queries import _cdf_script
    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    spark.dataSource.register(VersionedTableDataSource)
    src = _cdf_script(spark, sf_dir)
    cols = src.to_df().columns
    scd_schema = T.StructType(
        list(src.to_df().schema.fields)
        + [
            T.StructField("valid_from", T.LongType(), True),
            T.StructField("valid_to", T.LongType(), True),
            T.StructField("is_current", T.BooleanType(), True),
        ]
    )
    target = VersionedTable.create(
        spark,
        temp_table_path("scd2-target"),
        empty_df(spark, scd_schema),
    )

    def apply_batch(batch_df, batch_id: int) -> None:
        batch = batch_df.persist()
        try:
            if not batch.head(1):
                return
            # Keys stay a DataFrame end-to-end: enumerating them on
            # the driver and stuffing a literal IN list pays
            # per-element Py4J marshalling + expression analysis
            # (measured 11 s at 16.5 k keys for the replaceWhere
            # alone) and caps the batch size; broadcast semi-joins
            # keep the plan change-sized at any batch width.
            keys = batch.select("c_custkey").distinct()
            state = target.to_df().join(
                F.broadcast(keys), "c_custkey", "leftsemi"
            )
            closed = state.where(~F.col("is_current"))
            # open target rows re-enter the window as open events at
            # their valid_from version
            opens = state.where(F.col("is_current")).select(
                *cols,
                F.lit("insert").alias("_change_type"),
                F.col("valid_from").alias("_commit_version"),
            )
            ev = opens.unionByName(
                batch.select(*cols, "_change_type", "_commit_version")
            ).withColumn(
                "is_close",
                F.col("_change_type").isin("delete", "update_preimage"),
            )
            w = (
                Window.partitionBy("c_custkey")
                .orderBy(F.desc("_commit_version"), F.asc("is_close"))
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            rebuilt = (
                ev.withColumn(
                    "valid_to",
                    F.min(
                        F.when(F.col("is_close"), F.col("_commit_version"))
                    ).over(w),
                )
                .where(~F.col("is_close"))
                .select(
                    *cols,
                    F.col("_commit_version").alias("valid_from"),
                    F.col("valid_to"),
                    F.col("valid_to").isNull().alias("is_current"),
                )
            )
            target.overwrite_for_keys(
                closed.unionByName(rebuilt), "c_custkey", keys_df=keys
            )
        finally:
            batch.unpersist()

    checkpoint = __import__("tempfile").mkdtemp(prefix="scd2_ckpt_")
    q = (
        spark.readStream.format("versioned_table")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
        .load(src.path)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return target.to_df()


# --- stream_file_source ------------------------------------------------------
#
# The built-in FILE streaming source (the landing-zone ingest shape:
# upstream drops files, the stream discovers and admits them) with
# maxFilesPerTrigger=1 admission control — each micro-batch ingests
# exactly one file, so a backlog of N files becomes N bounded
# batches instead of one unbounded one. The sink tags every row with
# its batch id; the oracle checks the batch structure itself:
# file-granular batches with ascending ids covering all rows
# (files are written with disjoint nation ranges so batch
# composition is deterministic up to batch ORDER, and the output is
# made order-invariant by keying each batch by its content).

_FILE_STREAM_ORACLE = """
SELECT n_nationkey, n_name,
       CAST(n_nationkey // 9 AS BIGINT) AS file_group,
       TRUE AS batch_matches_file
FROM nation
"""


@register("stream_file_source", oracle=_FILE_STREAM_ORACLE)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow file-stream over a 3-file landing zone with
    maxFilesPerTrigger=1: every micro-batch must contain exactly one
    file's rows (one file_group value), checked per batch."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    land = tempfile.mkdtemp(prefix="file_stream_") + "/landing"
    os.makedirs(land)
    for g in range(3):
        (
            n.where((F.col("n_nationkey") / 9).cast("long") == g)
            .coalesce(1)
            .write.mode("append")
            .parquet(land)
        )
    acc: list = []

    def sink(batch_df, batch_id: int) -> None:
        rows = batch_df.collect()  # nation-sized: bounded demo sink
        groups = {r.n_nationkey // 9 for r in rows}
        acc.extend(
            (r.n_nationkey, r.n_name, r.n_nationkey // 9, len(groups) == 1)
            for r in rows
        )

    q = (
        spark.readStream.schema("n_nationkey bigint, n_name string")
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="file_stream_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return local_df(
        spark,
        acc,
        "n_nationkey bigint, n_name string, file_group bigint, "
        "batch_matches_file boolean",
    )


# --- stream_state_reader (Spark 4 state data source) ------------------------
# The statestore/state-metadata read formats (Spark 4.0+): a
# checkpoint's operator state read back as a DataFrame — the
# debugging/repair surface for stateful streaming at scale (inspect a
# wedged aggregation's buffers WITHOUT replaying the stream). The key
# runs a grouped count through a real checkpoint, then returns the
# STATE STORE's contents; the oracle recomputes the same counts from
# the input — hash-match proves the persisted state is exactly the
# aggregate a batch engine would produce.

_STATE_READER_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE event_id % 4 = 0
GROUP BY event_type
"""


@register("stream_state_reader", oracle=_STATE_READER_ORACLE)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped streaming count → checkpoint (availableNow drain) →
    ``spark.read.format("statestore")`` over the checkpoint, with
    ``state-metadata`` asserted in-line (one stateStoreSave operator).
    The state rows are flattened (``key.event_type``,
    ``value.count``) — partition_id is config-dependent and excluded."""
    import tempfile

    from pyspark.sql import functions as F

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 4 == 0)
        .select("event_id", "event_type")
    )
    land = tempfile.mkdtemp(prefix="state_rd_in_")
    ev.write.mode("overwrite").parquet(land)
    cp = tempfile.mkdtemp(prefix="state_rd_ckpt_")
    q = (
        spark.readStream.schema(ev.schema)
        .parquet(land)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = spark.read.format("state-metadata").load(cp)
    ops = [r["operatorName"] for r in meta.select("operatorName").collect()]
    assert ops == ["stateStoreSave"], ops
    return (
        spark.read.format("statestore")
        .load(cp)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
        )
    )


# --- stream_static_enrich ----------------------------------------------------
# Stream-STATIC join: the third join shape Structured Streaming
# supports (beside stream-stream and per-batch foreachBatch joins) —
# each micro-batch of the unbounded side joins the bounded dimension,
# which Spark RE-EVALUATES per batch (so a dim update between batches
# is visible; the cost story is one broadcast per batch, never a
# shuffle of the stream). The canonical enrichment shape: events
# arrive forever, the user→segment dimension is a table. Oracle =
# batch equivalence: with availableNow draining everything exactly
# once, per-batch enriched counts merged across batches must equal
# the one-shot batch join.

_STATIC_ENRICH_ORACLE = """
SELECT coalesce(c_mktsegment, 'unknown') AS segment, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


@register("stream_static_enrich", oracle=_STATIC_ENRICH_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich a real events file-stream with a static customer
    dimension (broadcast stream-static LEFT join, unmatched users
    keep flowing as 'unknown'), aggregate per micro-batch, and merge
    the partial counts — exactly-once admission makes the merged
    result equal the batch join."""
    from pyspark.sql import functions as F

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment_raw"),
    )
    ev = es.read_events_stream(spark, sf_dir).select("user_id", "event_type")
    enriched = ev.join(F.broadcast(dim), "user_id", "left").select(
        F.coalesce(F.col("segment_raw"), F.lit("unknown")).alias("segment"),
        "event_type",
    )
    acc: list = []

    def sink(batch_df, batch_id: int) -> None:
        # per-batch partial aggregate: segment-cardinality-sized, the
        # bounded thing a real sink would upsert into a serving store
        acc.extend(
            (r["segment"], r["event_type"], r["n"])
            for r in batch_df.groupBy("segment", "event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    (
        enriched.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    partial = local_df(spark, acc, "segment string, event_type string, n long")
    return partial.groupBy("segment", "event_type").agg(
        F.sum("n").cast("long").alias("n")
    )
