"""Versioned table as a Structured Streaming SOURCE.

The reference's engine (Delta) lets a table be read with
``spark.readStream`` — each commit's new files become a micro-batch
(`delta-io` streaming source semantics). This module provides the
same capability for this repo's versioned tables through Spark 4's
Python DataSource API: offsets are commit versions, a batch is the
set of files a commit ADDED, and non-append commits (rewrites,
deletion-vector growth) fail the stream unless ``ignoreChanges`` is
set — exactly Delta's default contract.

Scale shape: ``partitions()`` emits one input partition per new data
file, so a 1000-file append fans out across the cluster; each task
reads its parquet file as Arrow batches (zero row-by-row Python).
The driver-side work per micro-batch is a log-JSON diff — no data
I/O.

Usage::

    spark.dataSource.register(VersionedTableDataSource)
    df = (spark.readStream.format("versioned_table")
          .option("ignoreChanges", "false").load(table_path))
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from delta_lake_play_spark.table.versioned import (
    VersionedTable,
    _dv_count,
    _dv_sidecars,
)


class _FilePartition(InputPartition):
    def __init__(
        self,
        paths: list[str],
        version: int | None = None,
        synth_change_type: str | None = None,
    ):
        self.paths = paths
        # CDF mode only: the commit version these files belong to, and
        # the _change_type to synthesize for derived-insert batches
        # (None = the change files carry their own _change_type column).
        self.version = version
        self.synth_change_type = synth_change_type


def _latest_entry(path: str) -> dict:
    """The newest commit entry, read through the table layer's log
    reader. The handle takes no session: the stream planner runs in a
    Python worker, which has none."""
    table = VersionedTable(None, path)
    return table._read_log_raw(table.latest_version())


class VersionedTableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.ignore_changes = str(
            options.get("ignoreChanges", options.get("ignorechanges", "false"))
        ).lower() in ("true", "1")
        # Files grouped per Python source task: every task carries
        # fixed interpreter/serialization overhead, so batching >1
        # file per task amortizes it when a commit adds many small
        # files. Default 1 keeps per-file parallelism for large files.
        self.files_per_task = max(
            1,
            int(options.get("filesPerTask", options.get("filespertask", 1))),
        )
        # Delta's option of the same name: stream the row-level Change
        # Data Feed instead of the snapshot-append feed. Batches are
        # the change files each commit captured (enable_cdf=True
        # tables), plus derived inserts for pure-append commits; each
        # row carries _change_type and _commit_version.
        self.read_change_feed = str(
            options.get("readChangeFeed", options.get("readchangefeed", "false"))
        ).lower() in ("true", "1")
        # Rate limiting (Delta's maxFilesPerTrigger shape, in this
        # source's natural admission unit — COMMITS, the atomic offset
        # step): each trigger advances at most N versions, so a burst
        # of upstream commits drains as bounded micro-batches instead
        # of one giant batch that must fit the cluster at once.
        #
        # Scope (an honest limit of the Python DataSource API, which
        # exposes no admission control — latestOffset never sees the
        # committed offset): the FIRST trigger after a cold start or
        # restart is unthrottled, because capping it below a
        # checkpoint this reader cannot see would regress the offset
        # log and re-deliver data. Every later trigger is paced from
        # the engine-acknowledged anchor. To bound the initial
        # backfill itself, pair with ``startingVersion``.
        self.max_versions = (
            int(
                options.get(
                    "maxVersionsPerTrigger",
                    options.get("maxversionspertrigger", 0),
                )
            )
            or None
        )
        # Delta's option: begin the stream AT a commit version —
        # commits >= startingVersion arrive as increments and no
        # initial snapshot is delivered (offset = startingVersion-1).
        sv = options.get("startingVersion", options.get("startingversion"))
        self.starting_version = int(sv) if sv is not None else None
        self._progress: int | None = None
        self._table = VersionedTable(None, self.path)
        if self._table.partition_columns():
            raise NotImplementedError(
                "streaming source over hive-partitioned tables: leaf files "
                "do not carry the partition columns; read the batch snapshot "
                "or stream an unpartitioned table"
            )
        latest = _latest_entry(self.path)
        self._schema = T.StructType.fromJson(latest["schema"])
        # column mapping: files carry PHYSICAL names; resolve logical
        # fields through the latest entry's map (stable physicals make
        # this correct for every file generation)
        self._cmap = {
            k: v
            for k, v in (latest.get("columnMap") or {}).items()
            if k != v
        }

    # ---- offsets: commit versions ------------------------------------

    def initialOffset(self) -> dict:
        # -1 = before the CREATE commit, so the first micro-batch
        # delivers the initial snapshot (Delta's default behavior);
        # startingVersion-1 skips the snapshot and starts the
        # increment feed AT that commit (Delta's startingVersion).
        first = (
            -1 if self.starting_version is None else self.starting_version - 1
        )
        if self._progress is None or first > self._progress:
            self._progress = first
        return {"version": first}

    def latestOffset(self) -> dict:
        latest = self._table.latest_version()
        if self.max_versions is not None and self._progress is not None:
            # pace from the engine-acknowledged anchor; never below it
            # (the log only grows), so offsets cannot regress.
            # When NO anchor exists (availableNow snapshots
            # latestOffset before initialOffset reaches this
            # instance), deliberately return the full latest instead
            # of pacing from a guessed anchor: a guessed -1 could
            # emit an offset BELOW a checkpoint-restored commit and
            # double-deliver after resume. Net effect: the first
            # cycle delivers the whole backlog as one
            # initial-snapshot batch (Delta's own initial-batch
            # shape); maxVersionsPerTrigger engages from the next
            # cycle on (steady state). Measured in SURVEY §10 (r10).
            latest = min(latest, self._progress + self.max_versions)
        self._progress = latest
        return {"version": latest}

    # ---- planning ----------------------------------------------------

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # learn real progress from the engine: covers checkpoint
        # replay of an uncommitted batch, where neither initialOffset
        # nor a prior latestOffset anchored this reader instance
        if self._progress is None or end["version"] > self._progress:
            self._progress = end["version"]
        if self.read_change_feed:
            return self._cdf_partitions(start, end)
        new_paths: list[str] = []
        prev_files: dict[str, tuple] = {}
        if start["version"] >= 0:
            prev_files = self._file_map(start["version"])
        for v in range(start["version"] + 1, end["version"] + 1):
            cur = self._file_map(v)
            removed = set(prev_files) - set(cur)
            dv_grew = [
                p for p in set(cur) & set(prev_files) if cur[p] != prev_files[p]
            ]
            if (removed or dv_grew) and not self.ignore_changes:
                raise ValueError(
                    f"version {v} is not append-only "
                    f"(removed={len(removed)} files, dv-changed={len(dv_grew)}); "
                    "set ignoreChanges=true to stream only the added files"
                )
            new_paths.extend(sorted(set(cur) - set(prev_files)))
            prev_files = cur
        k = self.files_per_task
        return [
            _FilePartition(new_paths[i : i + k])
            for i in range(0, len(new_paths), k)
        ]

    def _cdf_partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """One micro-batch = the CDF rows of the commits in
        ``(start, end]``: captured change files verbatim, pure-append
        commits as derived inserts, OPTIMIZE skipped. A rewrite with
        no captured change data fails the stream — there is no row
        feed to derive (create the table with ``enable_cdf=True``)."""
        parts: list[_FilePartition] = []
        prev_files: dict[str, tuple] = {}
        if start["version"] >= 0:
            prev_files = self._file_map(start["version"])
        k = self.files_per_task
        for v in range(start["version"] + 1, end["version"] + 1):
            entry = self._table._read_log(v)
            cur = self._file_map(v)
            if "cdcFiles" in entry:
                # key present = capture ran; [] = zero-change commit
                # (e.g. a RESTORE reverting a layout-only OPTIMIZE) —
                # contributes no batch rows, must not fail the stream
                paths = sorted(
                    self._table._abs(f["path"]) for f in entry["cdcFiles"]
                )
                parts.extend(
                    _FilePartition(paths[i : i + k], v, None)
                    for i in range(0, len(paths), k)
                )
            elif entry.get("operation") != "OPTIMIZE":
                removed = set(prev_files) - set(cur)
                dv_grew = [
                    p
                    for p in set(cur) & set(prev_files)
                    if cur[p] != prev_files[p]
                ]
                if removed or dv_grew:
                    raise ValueError(
                        f"version {v} ({entry.get('operation')}) rewrote "
                        "files but captured no change data — create the "
                        "table with enable_cdf=True to stream its change "
                        "feed"
                    )
                added = sorted(set(cur) - set(prev_files))
                parts.extend(
                    _FilePartition(added[i : i + k], v, "insert")
                    for i in range(0, len(added), k)
                )
            prev_files = cur
        return parts

    def _file_map(self, version: int) -> dict[str, tuple]:
        entry = self._table._read_log(version)
        out = {}
        for f in entry["files"]:
            # DV identity (sidecars + count): growth between versions
            # must read as a CHANGE, not an append.
            out[self._table._abs(f["path"])] = (
                tuple(_dv_sidecars(f)),
                _dv_count(f),
            )
        return out

    # ---- execution (runs in Python workers) --------------------------

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type

        for path in partition.paths:
            tbl = pq.read_table(path)
            # Align to the table schema: files written before a schema
            # evolution lack the added columns — fill them with nulls,
            # and emit columns in schema order.
            names = [f.name for f in self._schema.fields]
            cols = []
            for f in self._schema.fields:
                physical = self._cmap.get(f.name, f.name)
                if physical in tbl.column_names:
                    cols.append(tbl.column(physical))
                else:
                    cols.append(
                        pa.nulls(len(tbl), type=to_arrow_type(f.dataType))
                    )
            if self.read_change_feed:
                names = names + ["_change_type", "_commit_version"]
                if partition.synth_change_type is not None:
                    cols.append(
                        pa.array(
                            [partition.synth_change_type] * len(tbl),
                            type=pa.string(),
                        )
                    )
                else:
                    cols.append(tbl.column("_change_type"))
                cols.append(
                    pa.array([partition.version] * len(tbl), type=pa.int64())
                )
            yield from pa.table(dict(zip(names, cols))).to_batches()

    def commit(self, end: dict) -> None:
        if self._progress is None or end["version"] > self._progress:
            self._progress = end["version"]


class VersionedTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self) -> T.StructType:
        # latest schema wins (evolution only adds nullable columns)
        schema = T.StructType.fromJson(
            _latest_entry(self.options["path"])["schema"]
        )
        if str(
            self.options.get(
                "readChangeFeed", self.options.get("readchangefeed", "false")
            )
        ).lower() in ("true", "1"):
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), True),
                    T.StructField("_commit_version", T.LongType(), True),
                ]
            )
        return schema

    def streamReader(self, schema: T.StructType) -> VersionedTableStreamReader:
        return VersionedTableStreamReader(self.options)


def stream_table_jvm(spark, table_path: str):
    """Append-only streaming read through Spark's built-in (JVM)
    parquet file-stream source — the zero-Python-overhead fast path.

    The versioned layout writes every commit's data under its own
    ``c-<version>-<hex>/`` directory, so a glob over ``c-*`` IS the
    append log as the JVM file source sees it: new commits surface as
    newly-listed files, discovered entirely by the JVM's file index —
    no Python DataSource handshake, no Python workers, and the scan
    keeps vectorized decoding + pushdown. Use when the table is
    append-only (CREATE + APPENDs): unlike the ``versioned_table``
    Python source this path cannot detect rewrites or deletion-vector
    growth (a rewrite surfaces as duplicate rows, not an error), and
    offsets are file names rather than commit versions. That contract
    — fast append tailing, full-fidelity source when DML fidelity is
    needed — is the same split Delta users make between the file
    stream source and ``format('delta')``."""
    latest = _latest_entry(table_path)
    if any(k != v for k, v in (latest.get("columnMap") or {}).items()):
        raise NotImplementedError(
            "JVM fast-path streaming over a column-mapped table: the "
            "glob scan reads logical names against physical files; use "
            "the versioned_table Python source, which resolves the map"
        )
    schema = T.StructType.fromJson(latest["schema"])
    return spark.readStream.schema(schema).parquet(
        os.path.join(table_path, "c-*")
    )
