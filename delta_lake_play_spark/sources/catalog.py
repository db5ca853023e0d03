"""Parquet source catalog over the driver's synthetic tables.

The reference reads one Delta table from a directory
(``spark_project.py:25-27``); here the source layer is a thin catalog
over the TPC-H-ish parquet tables plus ``events`` / ``documents`` /
``embeddings`` (see TESTDATA.md). Reads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and vectorized scans for free; Spark's inferred schema is held
per file, so only the first load of a file runs the inference job.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast in joins, even at
# 100 TB fact scale (they grow sub-linearly or are fixed-cardinality).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


# Session settings that change what Spark infers from a parquet footer;
# part of every held schema's key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
)
_NANOS_AS_LONG = _INFERENCE_CONFS[-1]

# (file identity, settings) -> (inferred schema, TIMESTAMP(NANOS) columns),
# least recently used first.
_SCHEMAS: OrderedDict[tuple, tuple[StructType, frozenset[str]]] = OrderedDict()
_SCHEMAS_MAX = 128
_SCHEMAS_LOCK = threading.Lock()


def _nanos_columns(path: str) -> list[str]:
    """TIMESTAMP(NANOS) columns per the parquet footer — the columns
    Spark's reader can only open through ``nanosAsLong`` legacy mode.
    One driver-side footer read (no data I/O); any table (not just
    ``events``) may carry ns precision depending on how the fixture
    was generated."""
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path)
    except OSError:  # directory-style parquet: sample one part file
        try:
            part = next(
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
            )
            schema = pq.read_schema(part)
        except (StopIteration, OSError):
            return []
    # startswith: UTC-adjusted ns columns render as
    # "timestamp[ns, tz=UTC]" and are equally illegal for Spark's
    # reader — the workaround must engage for them too.
    return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]


def _file_identity(path: str) -> tuple | None:
    """``(realpath, size, mtime_ns)`` of a parquet file; for a
    directory, its realpath and the sorted ``(name, size, mtime_ns)``
    of every file under it. None when the path cannot be stat'ed: the
    read then raises Spark's own error."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
        if not stat.S_ISDIR(st.st_mode):
            return (real, st.st_size, st.st_mtime_ns)
        entries = []
        for root, _dirs, files in os.walk(real):
            for f in files:
                fst = os.stat(os.path.join(root, f))
                name = os.path.relpath(os.path.join(root, f), real)
                entries.append((name, fst.st_size, fst.st_mtime_ns))
        return (real, tuple(sorted(entries)))
    except OSError:
        return None


def source_schema(
    spark: SparkSession, path: str
) -> tuple[StructType, frozenset[str], DataFrame | None]:
    """Spark's own inferred schema of the parquet at ``path``, its
    TIMESTAMP(NANOS) column names, and the inferring read itself when
    this call ran it (None on a hit; a cold load uses it instead of
    resolving a second relation). Schema and columns are held per file
    identity and inference settings, so a repeat call runs no Spark
    job and reads no footer. Turns ``nanosAsLong`` on for a table with
    ns columns: the flag is part of the key, so a held ns schema is
    only found while it is on.

    Only the schema is held, never a DataFrame: every caller builds a
    fresh relation over it, so two loads of one table get distinct
    attribute ids (self-joins resolve) and are analyzed under the
    session's current settings."""
    ident = _file_identity(path)
    settings = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    key = (ident, settings)
    with _SCHEMAS_LOCK:
        held = _SCHEMAS.get(key)
        if held is not None:
            _SCHEMAS.move_to_end(key)
            return (*held, None)
    ns_cols = frozenset(_nanos_columns(path))
    if ns_cols and settings[-1] != "true":
        # Read-enabling legacy flag, not a semantics flip: without it a
        # TIMESTAMP(NANOS) scan is a hard PARQUET_TYPE_ILLEGAL error,
        # so setting it cannot silently alter another query's results.
        spark.conf.set(_NANOS_AS_LONG, "true")
        key = (ident, settings[:-1] + ("true",))
        with _SCHEMAS_LOCK:
            held = _SCHEMAS.get(key)
        if held is not None:
            return (*held, None)
    raw = spark.read.parquet(path)
    held = (raw.schema, ns_cols)
    if ident is not None:
        with _SCHEMAS_LOCK:
            _SCHEMAS[key] = held
            while len(_SCHEMAS) > _SCHEMAS_MAX:
                _SCHEMAS.popitem(last=False)
    return (*held, raw)


def normalize_timestamps(
    spark: SparkSession, df: DataFrame, schema: StructType, ns_cols: frozenset[str]
) -> DataFrame:
    """Apply the ns→µs and NTZ→TIMESTAMP conversions that ``schema``
    (the raw read's schema) and ``ns_cols`` call for, in one
    ``withColumns``; ``df`` unchanged when none applies. Shared by the
    batch and the stream reader, so both see identical column types.
    Each conversion is SQL text: one ``F.expr`` call builds it, where the
    Column API takes a py4j round trip per function and cast."""
    conv = {
        f.name: f"timestamp_micros({_quoted(f.name)} div 1000)"
        for f in schema.fields
        if f.name in ns_cols and isinstance(f.dataType, LongType)
    }
    ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        tz = spark.conf.get("spark.sql.session.timeZone")
        conv.update(
            {c: f"from_utc_timestamp(cast({_quoted(c)} as timestamp), '{tz}')" for c in ntz}
        )
    return df.withColumns({c: F.expr(e) for c, e in conv.items()}) if conv else df


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a DataFrame: a fresh scan over the
    schema :func:`source_schema` holds (no inference job after the
    first load of an unchanged file), normalized by
    :func:`normalize_timestamps`.

    Timestamp normalization (scan-level, still a plain columnar scan
    with pushdown on every other column):

    - TIMESTAMP(NANOS) parquet columns (``events.ts`` historically;
      any timestamp column depending on fixture generation) are
      rejected outright by Spark's reader (PARQUET_TYPE_ILLEGAL);
      detected from the footer, read via the ``nanosAsLong`` legacy
      mode, and floored to microseconds with exact integer division
      (``div 1000`` on int64 — double division would round by up to
      ±0.25µs at epoch-ns magnitudes). DuckDB's reader floors ns→µs
      the same way.
    - µs-precision parquet timestamps without the UTC flag infer as
      TIMESTAMP_NTZ in Spark 4, which TIMESTAMP-only functions
      (``unix_micros`` et al.) reject. NTZ columns convert to
      TIMESTAMP **per-expression** — ``from_utc_timestamp(cast(c),
      session_tz)`` cancels the session-timezone offset the cast
      applies, so the NTZ wall clock lands on the UTC epoch under any
      FIXED-OFFSET session timezone (it reduces to a plain cast when
      the session is UTC, ``get_spark()``'s pinned default). Honest
      caveat: within an hour of a DST transition the two offsets are
      evaluated at slightly different instants and can differ by the
      DST delta — run sessions at UTC (the engine's default) for
      bit-exact parity. A loader must
      not flip ``spark.sql.session.timeZone`` on a shared session: that
      would silently change the semantics of every subsequent
      timestamp query in sessions not built via ``get_spark()``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, ns_cols, raw = source_schema(spark, path)
    if raw is None:
        raw = spark.read.schema(schema).parquet(path)
    return normalize_timestamps(spark, raw, schema, ns_cols)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view for SQL-form queries."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
