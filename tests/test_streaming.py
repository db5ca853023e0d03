"""Batch/stream parity for the streaming layer (SURVEY.md §5.5).

Each builder in ``streaming/events_stream.py`` is run twice: once on
a batch read (the driver/oracle form) and once as a real Structured
Streaming query with ``trigger(availableNow=True)`` captured via
``foreachBatch`` / memory sink — results must agree. A separate test
shows watermarking actually dropping late data across micro-batches.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.sources.catalog import load_table
from delta_lake_play_spark.streaming import events_stream as es

from .parity import compare


def _run_stream_to_df(stream_df, spark, complete: bool):
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink and return the final result as a batch DataFrame."""
    name = f"t_{abs(hash(stream_df)) % 10**8}"
    writer = stream_df.writeStream.format("memory").queryName(name)
    writer = writer.outputMode("complete" if complete else "append")
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.table(name)


@pytest.mark.parametrize(
    "builder,complete",
    [
        (lambda df: es.tumbling_counts(df, watermark=es.WATERMARK), True),
        (lambda df: es.sliding_counts(df), True),
        (lambda df: es.session_aggs(df), True),
        (lambda df: es.dedup_events(df, watermark=es.WATERMARK), False),
    ],
    ids=["tumbling", "sliding", "session", "dedup"],
)
def test_batch_stream_parity(spark, sf_dir, builder, complete):
    batch = builder(load_table(spark, sf_dir, "events")).toPandas()
    stream_in = es.read_events_stream(spark, sf_dir)
    streamed = _run_stream_to_df(builder(stream_in), spark, complete).toPandas()
    compare(streamed, batch, "stream parity")


def test_foreach_batch_upsert(spark, sf_dir):
    final = es.run_foreach_batch_upsert(spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    # MERGE by unique event_id over the whole stream ⇒ snapshot == source.
    assert final.count() == events.count()
    assert final.select(F.countDistinct("event_id")).first()[0] == events.count()


def test_watermark_drops_late_data(spark):
    """Three micro-batches: the last contains an event 2h older than
    the watermark established by the first — the watermarked windowed
    count must drop it. (The watermark used for late-row filtering
    lags one batch behind the data that set it, hence the middle
    batch: it lets the 11:45 watermark take effect before the late
    row arrives.)"""
    rows1 = [(1, "2024-01-01 10:00:00", 1, "a", 1.0), (2, "2024-01-01 12:00:00", 1, "a", 1.0)]
    rows2 = [(4, "2024-01-01 12:30:00", 1, "a", 1.0)]
    rows3 = [(3, "2024-01-01 10:01:00", 1, "a", 1.0)]  # 2h late, > 15 min watermark
    schema = "event_id long, ts_s string, user_id long, event_type string, value double"
    src = tempfile.mkdtemp(prefix="late_events_")
    for i, rows in enumerate([rows1, rows2, rows3]):
        out = os.path.join(src, f"batch{i}")
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.parquet(out)
        # The file source processes oldest-modTime first; sub-second
        # write times tie, so pin distinct mtimes to fix batch order.
        for root, _, files in os.walk(out):
            for f in files:
                os.utime(os.path.join(root, f), (1_700_000_000 + i * 60,) * 2)

    read_schema = spark.read.parquet(os.path.join(src, "batch0")).schema
    stream = (
        spark.readStream.schema(read_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "batch*"))
    )
    windowed = (
        stream.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
    )
    # Append mode: a window is emitted once the watermark passes its
    # end, and late rows below the watermark are dropped beforehand.
    # (Complete mode would keep all state and still absorb late data.)
    name = "wm_late"
    q = (
        windowed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {r["window"]["start"].isoformat(): r["n"] for r in spark.table(name).collect()}
    # Batch 0 sets the watermark to 12:00 - 15 min; the 10:00 window
    # finalizes with n=1 — the 10:01 late event from batch 1 must NOT
    # have been added (n=2 would mean the watermark failed to drop it).
    assert emitted.get("2024-01-01T10:00:00") == 1, f"late event not dropped: {emitted}"


def test_stream_stream_join_parity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    batch = es.click_purchase_attribution(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    ).toPandas()
    s1 = es.read_events_stream(spark, sf_dir)
    s2 = es.read_events_stream(spark, sf_dir)
    joined = es.click_purchase_attribution(
        s1.where(F.col("event_type") == "click"),
        s2.where(F.col("event_type") == "purchase"),
        watermark="1 hour",
    )
    streamed = _run_stream_to_df(joined, spark, complete=False).toPandas()
    compare(streamed, batch, "stream-stream join parity")


def test_versioned_table_streaming_source(spark):
    """Offsets are commit versions: a second availableNow pass from
    the same checkpoint delivers ONLY the files committed since the
    first pass, and a non-append commit fails the stream."""
    import tempfile

    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    spark.dataSource.register(VersionedTableDataSource)
    t = VersionedTable.create(
        spark, temp_table_path("src-stream"), spark.range(0, 100).withColumn("k", F.col("id") % 3)
    )
    t.append(spark.range(100, 150).withColumn("k", F.col("id") % 3))

    ckpt = tempfile.mkdtemp(prefix="src-stream-ckpt")
    seen: list[int] = []

    def sink(batch_df, _bid):
        seen.extend(r["id"] for r in batch_df.select("id").collect())

    def drain(stream_df):
        q = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    df = spark.readStream.format("versioned_table").load(t.path)
    drain(df)
    assert sorted(seen) == list(range(150))

    # incremental: only the new append arrives on the same checkpoint
    t.append(spark.range(150, 160).withColumn("k", F.col("id") % 3))
    drain(df)
    assert sorted(seen) == list(range(160))

    # a rewriting commit (CoW delete) is not append-only: stream fails
    t.delete(F.col("id") == 0)
    with pytest.raises(Exception, match="not append-only|STREAM_FAILED"):
        drain(df)

    # ... unless ignoreChanges streams just the added (rewritten) files
    seen.clear()
    df2 = (
        spark.readStream.format("versioned_table")
        .option("ignoreChanges", "true").load(t.path)
    )
    drain(df2)
    # the delete rewrote one file: its surviving rows re-emit
    assert seen and 0 not in seen


def test_versioned_table_stream_files_per_task_batching(spark):
    """filesPerTask groups several files into one Python source task
    without changing the delivered rows."""
    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import (
        VersionedTableDataSource,
        VersionedTableStreamReader,
    )
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    spark.dataSource.register(VersionedTableDataSource)
    t = VersionedTable.create(
        spark,
        temp_table_path("src-batch"),
        spark.range(0, 120).withColumn("k", F.col("id") % 3).repartition(6),
    )
    reader = VersionedTableStreamReader({"path": t.path, "filesPerTask": "4"})
    parts = reader.partitions({"version": -1}, {"version": 0})
    assert len(parts) == 2  # 6 files / 4 per task -> 2 tasks
    assert sum(len(p.paths) for p in parts) == 6

    import uuid as _uuid

    name = "batch_src_" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("versioned_table")
        .option("filesPerTask", "4")
        .load(t.path)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table(name).count() == 120


def test_stream_table_jvm_matches_snapshot(spark):
    """The JVM file-source fast path delivers the full append-only
    content with no Python source involved."""
    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import stream_table_jvm
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    t = VersionedTable.create(
        spark, temp_table_path("src-jvm"), spark.range(0, 80).withColumn("k", F.lit("x"))
    )
    t.append(spark.range(80, 100).withColumn("k", F.lit("y")))
    import uuid as _uuid

    name = "jvm_src_" + _uuid.uuid4().hex[:8]
    q = (
        stream_table_jvm(spark, t.path)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["id"] for r in spark.table(name).collect())
    assert got == list(range(100))


def test_starting_version_skips_snapshot(spark):
    """Delta's startingVersion: the stream begins AT the given commit
    — no initial snapshot, increments only."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    spark.dataSource.register(VersionedTableDataSource)
    t = VersionedTable.create(
        spark, temp_table_path("sv"), spark.range(0, 50).withColumn("k", F.col("id") % 3)
    )
    t.append(spark.range(50, 70).withColumn("k", F.col("id") % 3))   # v1
    t.append(spark.range(70, 80).withColumn("k", F.col("id") % 3))   # v2
    name = "sv_" + _uuid.uuid4().hex[:8]
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
    got = sorted(r["id"] for r in spark.table(name).collect())
    assert got == list(range(50, 80))  # v0 snapshot excluded


def test_max_versions_per_trigger_paces_steady_state(spark):
    """maxVersionsPerTrigger: after the anchor batch, a burst of
    upstream commits drains as bounded micro-batches — each batch
    carries at most one commit's rows (pacing=1). Timing-independent
    assertion: no post-anchor batch mixes two commits' id-ranges."""
    import tempfile as _tempfile
    import time as _time

    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    spark.dataSource.register(VersionedTableDataSource)
    t = VersionedTable.create(
        spark, temp_table_path("pace"), spark.range(0, 10).withColumn("k", F.lit(0)).coalesce(1)
    )
    batches: list[list[int]] = []

    def sink(bdf, _bid):
        ids = [r["id"] for r in bdf.select("id").collect()]
        if ids:
            batches.append(sorted(ids))

    q = (
        spark.readStream.format("versioned_table")
        .option("maxVersionsPerTrigger", "1")
        .load(t.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", _tempfile.mkdtemp(prefix="pace_ckpt_"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline and not batches:
            _time.sleep(0.5)
        assert batches, "snapshot batch never arrived"
        # burst: 3 commits land while the stream is running
        for i in range(1, 4):
            t.append(
                spark.range(100 * i, 100 * i + 5)
                .withColumn("k", F.lit(0))
                .coalesce(1)
            )
        while _time.time() < deadline and sum(len(b) for b in batches) < 25:
            _time.sleep(0.5)
    finally:
        q.stop()
    assert sum(len(b) for b in batches) == 25
    # every post-snapshot batch spans exactly one commit's id-range
    for b in batches[1:]:
        assert len({i // 100 for i in b}) == 1, f"batch mixed commits: {b}"
    assert len(batches) == 4  # snapshot + one batch per burst commit


def test_running_agg_rocksdb_matches_batch(spark, sf_dir):
    """The running-agg state machine (TWS when protobuf exists, the
    applyInPandasWithState fallback otherwise) on the RocksDB state
    store must converge to the batch groupBy totals, and the final
    per-user running sum must sit on the exact 2-dp grid."""
    import pyspark.sql.functions as F

    from delta_lake_play_spark.functions.exact import dsum
    from delta_lake_play_spark.registry import all_queries
    from delta_lake_play_spark.sources.catalog import load_table

    out = all_queries()["stream_transform_with_state"](spark, sf_dir).toPandas()
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .toPandas()
    )
    o = out.sort_values("user_id").reset_index(drop=True)
    b = batch.sort_values("user_id").reset_index(drop=True)
    assert o["user_id"].tolist() == b["user_id"].tolist()
    assert o["n_events"].tolist() == b["n_events"].tolist()
    assert o["sum_value"].tolist() == b["sum_value"].tolist()


def test_tws_available_probe():
    from delta_lake_play_spark.streaming.events_stream import tws_available

    assert tws_available() in (True, False)


def test_hourly_user_stats_streams_exact_distinct(spark, sf_dir):
    """r6 review: the old form used countDistinct, which streaming
    rejects — the advertised streaming path could never run. The
    chained-aggregation form must actually RUN as a stream (Spark 4
    multiple stateful operators, append mode) and agree with batch on
    every window the terminal watermark finalized (append emits only
    closed windows; the trailing window may be withheld)."""
    batch = es.hourly_user_stats(
        load_table(spark, sf_dir, "events"), watermark=es.WATERMARK
    ).toPandas()
    stream_in = es.read_events_stream(spark, sf_dir)
    streamed = _run_stream_to_df(
        es.hourly_user_stats(stream_in, watermark=es.WATERMARK),
        spark,
        complete=False,
    ).toPandas()
    b = {
        r.window_start: (r.n, r.n_users, r.max_value)
        for r in batch.itertuples()
    }
    s = {
        r.window_start: (r.n, r.n_users, r.max_value)
        for r in streamed.itertuples()
    }
    assert s, "stream emitted nothing — chained aggregation did not run"
    assert all(b[k] == v for k, v in s.items()), "streamed window diverged from batch"
    assert len(s) >= len(b) - 1, f"stream withheld {len(b) - len(s)} windows (max 1 allowed)"


def test_stream_source_reads_manifest_spilled_commit(spark):
    """r6 review: commits above manifest_inline_max spill the file
    list to a parquet sidecar and omit the 'files' key — the Python
    stream source must resolve the manifest instead of KeyError-ing
    on every trigger that plans across the spilled commit."""
    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    spark.dataSource.register(VersionedTableDataSource)
    df = spark.range(0, 60).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("stream-manifest"), df.coalesce(1)
    )
    old_max = VersionedTable.manifest_inline_max
    VersionedTable.manifest_inline_max = 4
    try:
        t.append(df.selectExpr("id + 100 as id", "v").repartition(6))  # spills
    finally:
        VersionedTable.manifest_inline_max = old_max
    assert "filesManifest" in t._read_log_raw(1), "fixture did not spill"
    got = []

    def sink(bdf, _bid):
        got.extend(r["id"] for r in bdf.select("id").collect())

    q = (
        spark.readStream.format("versioned_table")
        .load(t.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="mspill_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got) == list(range(0, 60)) + list(range(100, 160))


def test_footer_midpoint_splits_arrivals_under_skewed_stats(tmp_path):
    """``llm_dedup_streaming`` splits its arrivals (the multiples of 3)
    into two bronze commits at a point read from the parquet footer. A
    sparse tail of non-multiples far above the dense ids must not push
    the split past every arrival: both commits stay non-empty. Stats
    that are not integers give None (the percentile fallback)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from delta_lake_play_spark.queries.llm_dedup import _footer_midpoint

    ids = list(range(30)) + [1_000_000, 1_000_001]  # tail: no multiples of 3
    path = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": ids, "name": [str(i) for i in ids]}),
        path,
        row_group_size=30,
    )
    b1 = _footer_midpoint(path, "doc_id", 3)
    arrivals = [i for i in ids if i % 3 == 0]
    assert [i for i in arrivals if i <= b1]
    assert [i for i in arrivals if i > b1]
    assert _footer_midpoint(path, "name", 3) is None
