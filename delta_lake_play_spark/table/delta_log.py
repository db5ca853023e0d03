"""Open Delta Lake transaction-log mirror + protocol reader.

Writes ``_delta_log/N.json`` action files (``protocol`` /
``metaData`` / ``add`` / ``remove`` / ``commitInfo``) and classic
parquet checkpoints (+ ``_last_checkpoint``) per the PUBLIC Delta
transaction-log protocol (delta-io/delta PROTOCOL.md), so EXTERNAL
Delta readers — delta-rs, DuckDB's ``delta`` extension, delta-spark
on another cluster — can read any snapshot of a mirrored
:class:`VersionedTable`. Needs no delta-spark pip: the log format is
plain newline-delimited JSON plus parquet, and the data files are the
table's existing parquet, shared byte-for-byte (the ``add`` actions
reference them in place; nothing is rewritten).

Reference parity: the reference's entire storage story IS this format
— delta-spark writes ``_delta_log`` under every saved table
(``reference/python/delta_api/delta_api/spark_project.py:36``,
``Dockerfile:2`` pinning delta-core). This module reproduces the
on-disk contract from the protocol spec so a user of the reference
can hand their Delta-reading tools a mirrored table unchanged.

Sync model: :func:`sync` is idempotent and self-healing — it diffs
each private (``_log``) version above the newest one the Delta log
holds against its predecessor and writes it atomically (tmp +
``os.link``, first writer wins), so a crash between a private commit
and its mirror write heals on the next commit or explicit sync, and
a prefix removed by log cleanup stays removed. Everything else the
mirror derives (checkpoints, the protocol lookup) is a replay of the
Delta log itself. Two hard cases are handled explicitly:

- **Vacuumed history**: versions whose data files were reclaimed by
  ``vacuum`` cannot be backfilled (and a partial backfill would leave
  a stale-latest log that external readers would silently trust).
  ``sync`` scans file presence up front, skips the unexportable
  prefix, and re-bases the log with a FULL snapshot commit + parquet
  checkpoint at the oldest fully-present version — exactly the
  "JSON prefix cleaned up past a checkpoint" state the protocol
  allows. If the LATEST snapshot itself is missing files, it raises
  :class:`DeltaMirrorError` before writing anything.
- **Merge-on-read deletion vectors**: protocol (1, 2) has no DV
  representation, so DV-carrying snapshots are refused by default.
  With ``materialize_dvs=True`` (always on for the per-commit sync of
  ``delta_mirror=True`` tables) each masked file is materialized once
  per DV state into ``_dv_materialized/<fingerprint>/`` — survivors
  rewritten by a distributed anti-join job, never the driver — and
  the mirror's add/remove actions reference the materialized files.
  External readers see plain protocol-(1, 2) copy-on-write; the
  private table keeps its zero-rewrite MoR semantics.

The module also contains an independent protocol READER
(:func:`read_delta_snapshot`): checkpoint + JSON-commit replay →
add-file set → schema'd parquet scan with partition values from
``partitionValues``. It is written purely against the protocol (it
never touches the private log), so round-tripping through it is
evidence the emitted log is self-describing the way external readers
require.

Every read of ``_delta_log`` goes through one layer (the "log reader"
section below): :func:`_commit_actions` is the only parser of commit
and compacted JSON files, :func:`_checkpoint_actions` the only reader
of checkpoint parquet (multi-part sets expanded, V2 sidecars
resolved, optional column pruning), and :func:`_replay` folds them
into one :class:`_LogState` the way the protocol reads a log: the
newest checkpoint at or below the target, then the commits after it.
The snapshot and domain readers, the protocol lookup, the CDF start
schema, log compaction and the checkpoint writer all reconcile
through that state. A checkpoint is written straight from it, so
writing one costs O(commits since the last checkpoint), not
O(history), and reads nothing of the private log.
``tests/test_delta_log_reader_lint.py`` keeps a second reader from
growing back.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid
from collections.abc import Callable, Iterator
from datetime import datetime
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_play_spark.functions.local import empty_df, local_df

_CHECKPOINT_EVERY = 10

# V2 checkpoints: file actions per sidecar parquet. At 100 TB a
# snapshot has millions of add actions; sidecar sharding is what
# keeps the top-level checkpoint O(1) and lets readers fetch the
# manifest in parallel. Small here so the fixtures actually exercise
# multi-sidecar resolution.
_SIDECAR_ACTIONS = 512

# classic: <v>.checkpoint.parquet ; v2: <v>.checkpoint.<uuid>.parquet
_CP_NAME_RE = re.compile(
    r"^(\d{20})\.checkpoint(?:\.[0-9a-f]{32})?\.parquet$"
)
# multi-part classic (external delta-spark writers split large
# checkpoints): <v>.checkpoint.<part>.<total>.parquet, 1-based part
_CP_MULTIPART_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)

# Commit files strictly: `<x>.<y>.compacted.json` also ends in
# ".json", so every "endswith('.json')" commit glob would mis-list a
# compacted range's START as a live commit (r6 review: broke ICT
# timestamp resolution, duplicated checkpoint tombstones, gapped sync
# backfills, and skewed both readers' version lists).
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")


def _commit_versions(ddir: str) -> list[int]:
    """Sorted versions that have an actual COMMIT json present."""
    out = []
    for fn in os.listdir(ddir):
        m = _COMMIT_RE.match(fn)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _checkpoint_versions(ddir: str) -> dict[int, str]:
    """version → REPRESENTATIVE checkpoint filename, recognizing the
    classic single-file name, the uuid-named V2 manifest, and the
    multi-part classic form (``<v>.checkpoint.<part>.<total>.parquet``
    — external delta-spark writers split large checkpoints; this
    implementation reads but never writes them). A multi-part
    checkpoint's representative is its part 1; expand with
    :func:`_checkpoint_files` before reading rows. Incomplete
    multi-part sets (a part missing) are IGNORED per the spec — a
    reader must not replay from half a checkpoint. Preference when a
    version has several forms: V2 manifest > single classic >
    multi-part."""
    out: dict[int, str] = {}
    # (version, total) → {part: filename}: sets with different totals
    # at one version are INDEPENDENT candidates (a crashed re-split
    # must not shadow a complete earlier set)
    multi: dict[tuple[int, int], dict[int, str]] = {}
    for fn in sorted(os.listdir(ddir)):
        m = _CP_NAME_RE.match(fn)
        if m:
            v = int(m.group(1))
            if v in out and fn.endswith(".checkpoint.parquet"):
                continue  # keep the already-seen V2 manifest over classic
            out[v] = fn
            continue
        mm = _CP_MULTIPART_RE.match(fn)
        if mm:
            v, part, total = int(mm.group(1)), int(mm.group(2)), int(mm.group(3))
            multi.setdefault((v, total), {})[part] = fn
    for (v, total), parts in sorted(multi.items()):
        if v in out and not _CP_MULTIPART_RE.match(out[v]):
            continue  # a single-file or V2 form already represents v
        if set(parts) == set(range(1, total + 1)):
            # complete set: part 1 represents it; among several
            # complete totals at one version the largest total wins
            # (sorted() order makes the preference deterministic —
            # both sets reconcile to the same snapshot)
            out[v] = parts[1]
    return out


def _checkpoint_files(ddir: str, fn: str) -> list[str]:
    """Expand a representative checkpoint filename to every file that
    must be read: all parts for the multi-part classic form, the file
    itself otherwise (V2 sidecars are resolved by
    :func:`_checkpoint_actions`)."""
    m = _CP_MULTIPART_RE.match(fn)
    if not m:
        return [fn]
    v, total = int(m.group(1)), int(m.group(3))
    return [
        f"{v:020d}.checkpoint.{p:010d}.{total:010d}.parquet"
        for p in range(1, total + 1)
    ]


# ------------------------------------------------------------ log reader


def _commit_actions(path: str) -> Iterator[dict]:
    """The actions of one commit or compacted JSON file, in file
    order: the only parser of ``_delta_log`` JSON."""
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _checkpoint_actions(
    ddir: str, fn: str, columns: list[str] | None = None
) -> Iterator[dict]:
    """The action rows of the checkpoint that ``fn`` represents (see
    :func:`_checkpoint_versions`): the only reader of checkpoint and
    sidecar parquet. Every part of a multi-part set is read; a V2
    manifest's ``sidecar`` rows are followed into ``_sidecars/``
    whenever file actions are wanted. ``columns`` prunes the read to
    those action columns (ones a file lacks are skipped), so a
    protocol or schema lookup never loads a large checkpoint's add
    rows."""
    import pyarrow.parquet as pq

    def read(path: str, want: list[str] | None) -> list[dict]:
        with pq.ParquetFile(path) as pf:
            if want is not None:
                want = [c for c in want if c in pf.schema_arrow.names]
                if not want:
                    return []
            return pf.read(columns=want).to_pylist()

    side = (
        None if columns is None else [c for c in columns if c in ("add", "remove")]
    )
    top = columns if not side else list(dict.fromkeys([*columns, "sidecar"]))
    for part in _checkpoint_files(ddir, fn):
        rows = read(os.path.join(ddir, part), top)
        yield from rows
        if side == []:
            continue
        for r in rows:
            if r.get("sidecar"):
                yield from read(
                    os.path.join(ddir, "_sidecars", r["sidecar"]["path"]), side
                )


# Map-typed action fields: parquet reads a map as a list of (key,
# value) pairs; a commit JSON writes it as an object.
_MAP_FIELDS = {"partitionValues", "configuration", "options", "tags"}


def _plain(action: dict) -> dict:
    """An action as a commit JSON carries it: parquet's null struct
    fields dropped and maps made dicts (their null values kept), so a
    file's action is the same dict from a checkpoint or a commit."""
    out = {}
    for k, v in action.items():
        if v is None:
            continue
        if k in _MAP_FIELDS and not isinstance(v, str):
            v = dict(v)
        elif isinstance(v, dict):
            v = _plain(v)
        out[k] = v
    return out


class _LogState:
    """Reconciled actions of a stretch of log, by the protocol's
    rules: the latest protocol and metaData, live adds and remove
    tombstones by path, the latest txn per appId and the latest
    domainMetadata per domain (removals kept, as tombstones), plus
    the timestamp of the last commit replayed."""

    def __init__(self) -> None:
        self.protocol: dict | None = None
        self.meta: dict | None = None
        self.adds: dict[str, dict] = {}
        self.removes: dict[str, dict] = {}
        self.txns: dict[str, dict] = {}
        self.domains: dict[str, dict] = {}
        self.timestamp: int | None = None

    def apply(self, action: dict) -> None:
        # a checkpoint row carries every action column, all null but one
        action = _plain(action)
        if action.get("protocol"):
            self.protocol = action["protocol"]
        if action.get("metaData"):
            self.meta = action["metaData"]
        if action.get("add"):
            add = action["add"]
            self.adds[add["path"]] = add
            self.removes.pop(add["path"], None)
        if action.get("remove"):
            rm = action["remove"]
            self.adds.pop(rm["path"], None)
            # The tombstone is kept even when it cancels an add of the
            # same stretch: Delta's reconciliation keeps removes for
            # the retention window, so a reader substituting a
            # compacted range for its commits (incl. a mid-span replay
            # over a checkpoint that still holds the transient file)
            # and VACUUM both see the removal (ADVICE r6).
            self.removes[rm["path"]] = rm
        if action.get("txn"):
            self.txns[action["txn"]["appId"]] = action["txn"]
        if action.get("domainMetadata"):
            d = action["domainMetadata"]
            self.domains[d["domain"]] = d
        if action.get("commitInfo"):
            self.timestamp = action["commitInfo"].get("timestamp")

    def actions(self) -> list[dict]:
        """The state as actions, in checkpoint row order."""
        out: list[dict] = []
        if self.protocol is not None:
            out.append({"protocol": self.protocol})
        if self.meta is not None:
            out.append({"metaData": self.meta})
        out += [{"txn": t} for t in self.txns.values()]
        out += [{"domainMetadata": d} for d in self.domains.values()]
        out += [{"add": a} for a in self.adds.values()]
        out += [{"remove": r} for r in self.removes.values()]
        return out


def _log_head(ddir: str) -> int | None:
    """The newest version ``_delta_log`` holds: its newest commit,
    checkpoint or compacted-range end (None when it holds none)."""
    ends = [e for spans in _compacted_spans(ddir).values() for e, _fn in spans]
    return max(
        [*_commit_versions(ddir), *_checkpoint_versions(ddir), *ends], default=None
    )


def _replay(
    ddir: str, version: int | None = None, columns: list[str] | None = None
) -> tuple[int, _LogState]:
    """Reconcile the log up to ``version`` (default: the newest, see
    :func:`_log_head`) the way the protocol reads it: the newest
    checkpoint at or below it (pruned to ``columns``), then each later
    commit, the widest compacted range that fits standing in for its
    commits. A version the log cannot reconstruct raises
    ``FileNotFoundError``."""
    versions = _commit_versions(ddir)
    cp_map = _checkpoint_versions(ddir)
    cp_versions = sorted(cp_map)
    spans = _compacted_spans(ddir)
    span_ends = {e for lst in spans.values() for e, _fn in lst}
    if version is None:
        version = _log_head(ddir)
        if version is None:
            raise FileNotFoundError(
                f"no delta log at {ddir!r}: neither JSON commits nor "
                "checkpoints found"
            )
    if (
        version not in versions
        and version not in cp_versions
        and version not in span_ends
    ):
        raise FileNotFoundError(f"delta version {version} not in log")

    state = _LogState()
    usable = [v for v in cp_versions if v <= version]
    v = 0
    if usable:
        for row in _checkpoint_actions(ddir, cp_map[usable[-1]], columns):
            state.apply(row)
        v = usable[-1] + 1

    while v <= version:
        # Minor log compactions: the WIDEST <v>.<e>.compacted.json
        # whose range fits the replay substitutes for its JSON
        # commits — one read instead of e-v+1 (and tolerates those
        # commits' absence). Overshooting ranges are skipped; a
        # narrower re-compaction sibling can still match.
        fit = next(
            ((e, fn) for e, fn in spans.get(v, []) if e <= version), None
        )
        commit = os.path.join(ddir, f"{v:020d}.json")
        if fit is None and not os.path.exists(commit):
            # Commit JSON cleaned up mid-span (e.g. checkpoint at 2,
            # compacted [1,5], JSONs 3..5 removed): a span STARTING
            # BEFORE the cursor still reconstructs v..end exactly,
            # because a compacted file is the full action
            # reconciliation of its range — re-applying the already-
            # replayed prefix is idempotent (adds re-add live files,
            # retained remove tombstones re-delete dead ones, latest
            # metaData/protocol/txn win). Only engaged when the JSON
            # is genuinely missing; widest usable end wins (ADVICE r6).
            fit = max(
                (
                    (e, fn)
                    for s in spans
                    if s <= v
                    for e, fn in spans[s]
                    if v <= e <= version
                ),
                key=lambda t: t[0],
                default=None,
            )
            if fit is None:
                if v in versions or usable:
                    raise FileNotFoundError(
                        f"delta log is missing commit {v} needed to replay "
                        f"version {version} from checkpoint "
                        f"{usable[-1] if usable else '(none)'}"
                    )
                raise FileNotFoundError(
                    f"delta version {version} predates every checkpoint and "
                    f"its JSON commits were cleaned up — not reconstructible"
                )
        if fit is not None:
            commit = os.path.join(ddir, fit[1])
        for action in _commit_actions(commit):
            state.apply(action)
        v = fit[0] + 1 if fit is not None else v + 1
    return version, state


_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_MATERIALIZED_DIR = "_dv_materialized"
# PROTOCOL.md: remove tombstones persist in checkpoints until
# delta.deletedFileRetentionDuration (default 1 week) so external
# VACUUM / incremental readers can track recently removed files.
_TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000
# delta.logRetentionDuration default (30 days): log files below the
# latest checkpoint older than this are metadata-cleanup eligible.
_LOG_RETENTION_MS = 30 * 24 * 3600 * 1000
# Operations that rearrange data without changing it: the protocol
# requires dataChange=false on their add/remove actions so streaming /
# CDF consumers do not re-process compacted files as new data.
_DATA_NEUTRAL_OPS = {"OPTIMIZE", "CLUSTER BY"}

# Reader features this module's protocol reader implements — the
# refuse-unknown gate in _replay_actions checks against this set.
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "v2Checkpoint",
    "deletionVectors",
    "timestampNtz",
    "variantType",
    # marker feature: requires VACUUM to run a protocol check before
    # deleting files; imposes nothing on reads (PROTOCOL.md)
    "vacuumProtocolCheck",
    # widened columns: carried files keep their narrower physical
    # parquet type; readers upcast at scan using the declared schema
    # (the replay readers here read with schemaString's types, which
    # Spark's parquet reader promotes losslessly)
    "typeWidening",
}

# Writer features this implementation can honor when VACUUMing a
# table whose protocol demands the vacuumProtocolCheck (a vacuum that
# ignores an unknown writer feature could reclaim files the feature's
# scheme still references — e.g. a DV bin of a scheme we don't parse).
_SUPPORTED_WRITER_FEATURES = _SUPPORTED_READER_FEATURES | {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "changeDataFeed",
    "generatedColumns",
    "identityColumns",
    "domainMetadata",
    "rowTracking",
    "clustering",
    "inCommitTimestamp",
    # column DEFAULT expressions: writer-only — readers are
    # unaffected (values are materialized at write time)
    "allowColumnDefaults",
}


class DeltaMirrorError(RuntimeError):
    """The table state cannot be represented in protocol (1, 2)."""


def _delta_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def _ts_ms(iso: str) -> int:
    return int(datetime.fromisoformat(iso).timestamp() * 1000)


def _table_id(table_path: str) -> str:
    """Stable per-table GUID (uuid5 of the path — deterministic so
    every backfilled metaData action carries the same id)."""
    return str(uuid.uuid5(uuid.NAMESPACE_URL, os.path.abspath(table_path)))


def _add_path(rel_or_abs: str) -> str:
    """Delta ``add.path``: URL-encoded, relative to the table root
    when possible, else an absolute ``file:`` URI (both allowed by
    the spec)."""
    if rel_or_abs.startswith("/"):
        return "file://" + quote(rel_or_abs)
    return quote(rel_or_abs.replace(os.sep, "/"))


def _partition_values_raw(rel_path: str, part_cols: list[str]) -> dict:
    """Hive ``col=value`` components as the RAW STRINGS Delta stores
    in ``partitionValues`` (JSON null for the hive null marker)."""
    out: dict[str, str | None] = {}
    for comp in rel_path.split("/")[:-1]:
        name, eq, raw = comp.partition("=")
        if eq and name in part_cols:
            raw = unquote(raw)
            out[name] = None if raw == _HIVE_NULL else raw
    return {c: out.get(c) for c in part_cols}


def _stats_string(entry: dict, cmap: dict | None = None) -> str:
    # Under column mapping, add-action stats are keyed by PHYSICAL
    # column names (the names inside the parquet files), per the spec.
    m = {k: v for k, v in (cmap or {}).items() if k != v}
    stats = entry.get("stats", {})
    return json.dumps(
        {
            "numRecords": entry["num_rows"],
            "minValues": {m.get(c, c): v[0] for c, v in stats.items()},
            "maxValues": {m.get(c, c): v[1] for c, v in stats.items()},
            "nullCount": {
                m.get(c, c): v
                for c, v in entry.get("nullCounts", {}).items()
            },
        }
    )


def _add_action(
    table_path: str,
    f: dict,
    part_cols: list[str],
    ts: int,
    data_change: bool = True,
    cmap: dict | None = None,
) -> dict:
    rel = f["path"].replace(os.sep, "/")
    abs_path = rel if rel.startswith("/") else os.path.join(table_path, rel)
    add = {
        "path": _add_path(rel),
        "partitionValues": _partition_values_raw(rel, part_cols),
        "size": os.path.getsize(abs_path),
        "modificationTime": ts,
        "dataChange": data_change,
        "stats": _stats_string(f, cmap),
    }
    if "baseRowId" in f:  # rowTracking: fresh-id range of this file
        add["baseRowId"] = int(f["baseRowId"])
        add["defaultRowCommitVersion"] = int(f["defaultRowCommitVersion"])
    return {"add": add}


def _is_mapped(entry: dict) -> bool:
    """True once the table has ever renamed/dropped a column — the
    mirror then declares column mapping mode ``name``."""
    return bool(entry.get("columnMap") or entry.get("retiredPhysical"))


def _column_ids(table, entry: dict) -> dict[str, int]:
    """Stable Delta column ids, keyed by PHYSICAL name: first
    appearance order across the private log up to this version.
    Deterministic re-derivation — no extra state to thread through
    the commit path."""
    ids: dict[str, int] = {}
    for v in sorted(table._versions()):
        if v > entry["version"]:
            break
        raw = table._read_log_raw(v)
        cmap = raw.get("columnMap") or {}
        for f in raw["schema"]["fields"]:
            phys = cmap.get(f["name"], f["name"])
            if phys not in ids:
                ids[phys] = len(ids) + 1
    return ids


def _type_changes(table, entry: dict) -> dict[str, list[dict]]:
    """Per-column ``delta.typeChanges`` metadata values (PROTOCOL.md
    Type Widening): every lossless widening a column underwent across
    the private log up to this version, in order, as
    ``{"fromType": ..., "toType": ...}`` with the schema-serialization
    type names. History is tracked by the column's PHYSICAL identity
    (its columnMap name — stable across renames, retired-never-reused
    after a drop) and mapped to the CURRENT logical names at the end,
    so a renamed widened column keeps its change history and a
    dropped one stops declaring it; a drop/re-add under a different
    type gets a fresh physical name and is an unrelated column, not a
    widening. Presence must be continuous and the change on the
    widening whitelist. Deterministic re-derivation from the log,
    like :func:`_column_ids`; versions whose (schema, columnMap) pair
    is unchanged are skipped without parsing. The walk resumes from
    the handle's last call when that was at or below this version, so
    a per-commit call reads no entry: its own is ``entry``."""
    from pyspark.sql import types as T

    from .versioned import _widen_allowed

    walk = getattr(table, "_type_walk", None)
    if walk is None or walk[0] > entry["version"]:
        walk = (-1, {}, None, {})
    last, prev_types, prev_sig, changes = walk
    for v in sorted(table._versions()):
        if v <= last:
            continue
        if v > entry["version"]:
            break
        raw = entry if v == entry["version"] else table._read_log_raw(v)
        sig = (raw["schema"], raw.get("columnMap"))
        if sig == prev_sig:
            continue  # neither types nor identities can have moved
        cmap = raw.get("columnMap") or {}
        schema = T.StructType.fromJson(raw["schema"])
        cur = {cmap.get(f.name, f.name): f.dataType for f in schema.fields}
        for phys, dt in cur.items():
            old = prev_types.get(phys)
            if old is not None and old != dt and _widen_allowed(old, dt):
                changes.setdefault(phys, []).append(
                    {"fromType": old.jsonValue(), "toType": dt.jsonValue()}
                )
        prev_types = cur
        prev_sig = sig
    table._type_walk = (entry["version"], prev_types, prev_sig, changes)
    if not changes:
        return {}
    ecmap = entry.get("columnMap") or {}
    return {
        f["name"]: list(changes[ecmap.get(f["name"], f["name"])])
        for f in entry["schema"]["fields"]
        if ecmap.get(f["name"], f["name"]) in changes
    }


def _widening_between(prev: dict, entry: dict) -> bool:
    """True when this version widens some column vs the previous one
    (the protocol must be upgraded in the same commit)."""
    if prev["schema"] == entry["schema"]:
        return False
    from pyspark.sql import types as T

    from .versioned import _widen_allowed

    po = {
        f.name: f.dataType
        for f in T.StructType.fromJson(prev["schema"]).fields
    }
    return any(
        f.name in po
        and po[f.name] != f.dataType
        and _widen_allowed(po[f.name], f.dataType)
        for f in T.StructType.fromJson(entry["schema"]).fields
    )


def _meta_action(table, entry: dict, tchanges: dict | None = None) -> dict:
    config = {}
    if table.cdf_enabled():
        config["delta.enableChangeDataFeed"] = "true"
    if table.append_only_enabled():
        # external writers must enforce the same no-row-changes
        # contract (PROTOCOL.md appendOnly, legacy writer-2 feature)
        config["delta.appendOnly"] = "true"
    if _dv_native(table):
        config["delta.enableDeletionVectors"] = "true"
    if table.row_tracking_enabled():
        config["delta.enableRowTracking"] = "true"
    if table.ict_enabled():
        # enabled at CREATE only, so no enablement-provenance keys
        # (delta.inCommitTimestampEnablementVersion/-Timestamp) are
        # needed per the spec.
        config["delta.enableInCommitTimestamps"] = "true"
    for cname, cexpr in table.constraints().items():
        # CHECK constraints live in metaData configuration
        # (PROTOCOL.md): external writers must enforce them.
        config[f"delta.constraints.{cname}"] = cexpr
    schema_dict = entry["schema"]
    if _is_mapped(entry):
        # Column mapping mode "name": every field advertises its
        # stable physical parquet column name + id (PROTOCOL.md).
        ids = _column_ids(table, entry)
        cmap = entry.get("columnMap") or {}
        fields = []
        for f in schema_dict["fields"]:
            phys = cmap.get(f["name"], f["name"])
            fields.append(
                {
                    **f,
                    "metadata": {
                        **f.get("metadata", {}),
                        "delta.columnMapping.id": ids[phys],
                        "delta.columnMapping.physicalName": phys,
                    },
                }
            )
        schema_dict = {**schema_dict, "fields": fields}
        config["delta.columnMapping.mode"] = "name"
        config["delta.columnMapping.maxColumnId"] = str(
            max(ids.values(), default=0)
        )
    gen = table.generated_columns()
    if gen:
        # Generated columns (PROTOCOL.md): the expression rides as
        # field metadata so external writers recompute it.
        fields = []
        for f in schema_dict["fields"]:
            if f["name"] in gen:
                f = {
                    **f,
                    "metadata": {
                        **f.get("metadata", {}),
                        "delta.generationExpression": gen[f["name"]],
                    },
                }
            fields.append(f)
        schema_dict = {**schema_dict, "fields": fields}
    # as-of entry['version'], NOT latest-table state: these actions
    # are also emitted for HISTORICAL versions during backfill export
    # (sync of an unmirrored table, full-snapshot re-base), and if
    # defaults changed over the log's life the old commits must carry
    # the defaults of THEIR time — the same reason _type_changes
    # re-derives per version (ADVICE r9).
    defaults = table.column_defaults(as_of=entry["version"], entry=entry)
    if defaults:
        # Column defaults (PROTOCOL.md allowColumnDefaults): the
        # expression rides as CURRENT_DEFAULT field metadata so
        # external writers apply the same fill on omitted columns.
        fields = []
        for f in schema_dict["fields"]:
            if f["name"] in defaults:
                f = {
                    **f,
                    "metadata": {
                        **f.get("metadata", {}),
                        "CURRENT_DEFAULT": defaults[f["name"]],
                    },
                }
            fields.append(f)
        schema_dict = {**schema_dict, "fields": fields}
    if tchanges is None:
        tchanges = _type_changes(table, entry)
    if tchanges:
        # Type widening (PROTOCOL.md): each widened field records its
        # change history so external readers know carried files may
        # hold the narrower physical type and must upcast at scan.
        fields = []
        for f in schema_dict["fields"]:
            if f["name"] in tchanges:
                f = {
                    **f,
                    "metadata": {
                        **f.get("metadata", {}),
                        "delta.typeChanges": tchanges[f["name"]],
                    },
                }
            fields.append(f)
        schema_dict = {**schema_dict, "fields": fields}
    idcfg = table.identity_info()
    if idcfg:
        # Identity columns (PROTOCOL.md): the field carries
        # delta.identity.* metadata; the high-water mark is advertised
        # so external writers continue above it.
        hwm = entry.get("identityHighWaterMark")
        fields = []
        for f in schema_dict["fields"]:
            if f["name"] == idcfg["column"]:
                meta = {
                    **f.get("metadata", {}),
                    "delta.identity.start": int(idcfg["start"]),
                    "delta.identity.step": int(idcfg["step"]),
                    "delta.identity.allowExplicitInsert": False,
                }
                if hwm is not None:
                    meta["delta.identity.highWaterMark"] = int(hwm)
                f = {**f, "metadata": meta}
            fields.append(f)
        schema_dict = {**schema_dict, "fields": fields}
    return {
        "metaData": {
            "id": _table_id(table.path),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_dict),
            "partitionColumns": table.partition_columns(),
            "configuration": config,
            "createdTime": _ts_ms(table.created_timestamp()),
        }
    }


# Legacy writer features implied by each pre-table-features writer
# version (PROTOCOL.md): a protocol upgraded to writer 7 must list
# them explicitly in writerFeatures.
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def _protocol_action(table, entry: dict, tchanges: dict | None = None) -> dict:
    """Protocol (1, 2) normally; CDF needs writer 4; column mapping
    needs reader 2 / writer 5 (versions are cumulative, so (2, 5)
    also covers CDF); identity columns need writer 6. Row tracking is
    a TABLE FEATURE: writer 7 with an explicit writerFeatures list —
    ``rowTracking`` + its ``domainMetadata`` dependency + every
    legacy feature the pre-upgrade writer version implied (the
    upgrade rule in PROTOCOL.md). The reader version stays numeric
    (row tracking defines no reader feature), so readerFeatures is
    not emitted."""
    reader, writer = _PROTOCOL["minReaderVersion"], _PROTOCOL["minWriterVersion"]
    if table.constraints():
        writer = max(writer, 3)  # CHECK constraints
    if table.generated_columns():
        writer = max(writer, 4)  # generated columns
    if table.cdf_enabled():
        writer = max(writer, 4)
    if _is_mapped(entry):
        reader, writer = max(reader, 2), max(writer, 5)
    if table.identity_info():
        writer = max(writer, 6)
    table_features = []
    reader_features: list[str] = []
    if table.row_tracking_enabled():
        table_features += ["domainMetadata", "rowTracking"]
    if entry.get("clusterBy"):
        # clustered table (liquid clustering): writer feature
        # ``clustering`` + its ``domainMetadata`` dependency
        if "domainMetadata" not in table_features:
            table_features += ["domainMetadata"]
        table_features += ["clustering"]
    if table.ict_enabled():
        table_features += ["inCommitTimestamp"]
    if table.checkpoint_policy() == "v2":
        table_features += ["v2Checkpoint"]
        reader_features += ["v2Checkpoint"]
    if _dv_native(table):
        # deletionVectors is a reader-writer feature: readers must
        # apply the masks or they return deleted rows
        table_features += ["deletionVectors"]
        reader_features += ["deletionVectors"]
    schema_json = json.dumps(entry["schema"])
    if '"timestamp_ntz"' in schema_json:
        # TIMESTAMP_NTZ anywhere in the schema (incl. nested) is the
        # timestampNtz reader-writer feature: a reader without it
        # would misinterpret the column's semantics (PROTOCOL.md)
        table_features += ["timestampNtz"]
        reader_features += ["timestampNtz"]
    if '"variant"' in schema_json:
        # likewise VARIANT columns (Spark 4 semi-structured type)
        table_features += ["variantType"]
        reader_features += ["variantType"]
    if _vacuum_protocol_check(table):
        # reader-writer MARKER feature: data layout is unchanged, but
        # every VACUUM implementation must verify it understands the
        # table's writer features before reclaiming files
        table_features += ["vacuumProtocolCheck"]
        reader_features += ["vacuumProtocolCheck"]
    if tchanges is None:
        tchanges = _type_changes(table, entry)
    if tchanges:
        # typeWidening is reader-writer: a reader unaware of it would
        # read carried files' narrower physical parquet types into the
        # wrong schema (PROTOCOL.md Type Widening)
        table_features += ["typeWidening"]
        reader_features += ["typeWidening"]
    if table.column_defaults(as_of=entry["version"], entry=entry):
        # writer-only feature: readers see materialized values; a
        # writer unaware of it would fill NULL where the table
        # declares a DEFAULT (PROTOCOL.md Column Default Values).
        # As-of this version, not latest — see _meta_action's note.
        table_features += ["allowColumnDefaults"]
    if reader_features:
        # Any reader-writer table feature forces minReaderVersion 3
        # with an explicit readerFeatures list (PROTOCOL.md) — which
        # must then also name every legacy reader feature in use
        # (columnMapping is the only reader-2 legacy feature).
        if reader >= 2:
            reader_features = ["columnMapping"] + reader_features
        reader = 3
    if table_features:
        legacy = [
            f
            for v, feats in sorted(_LEGACY_WRITER_FEATURES.items())
            if v <= writer
            for f in feats
        ]
        proto = {
            "minReaderVersion": reader,
            "minWriterVersion": 7,
            "writerFeatures": legacy + table_features,
        }
        if reader_features:
            proto["readerFeatures"] = reader_features
        return {"protocol": proto}
    return {"protocol": {"minReaderVersion": reader, "minWriterVersion": writer}}


def _cdc_action(table_path: str, f: dict, part_cols: list[str]) -> dict:
    """Protocol ``cdc`` (AddCDCFile) action for a captured change
    file. ``dataChange`` is always false: when a commit carries cdc
    actions, CDF readers use them EXCLUSIVELY and ignore the commit's
    add/remove files for change purposes."""
    rel = f["path"].replace(os.sep, "/")
    abs_path = rel if rel.startswith("/") else os.path.join(table_path, rel)
    return {
        "cdc": {
            "path": _add_path(rel),
            "partitionValues": _partition_values_raw(rel, part_cols),
            "size": os.path.getsize(abs_path),
            "dataChange": False,
        }
    }


def _op_params_strings(params: dict) -> dict:
    """Delta's commitInfo.operationParameters values are strings."""
    return {
        k: v if isinstance(v, str) else json.dumps(v, default=str)
        for k, v in params.items()
    }


# --------------------------------------------------- DV materialization

# A MoR file entry (parquet file + deletion-vector mask) has no
# protocol-(1, 2) form, so the mirror materializes it: survivors are
# rewritten ONCE per (file, DV-state) into
# ``_dv_materialized/<fingerprint>/`` and the mirror's actions
# reference the rewrite. The fingerprint keys idempotency — a file
# whose DV did not change between versions maps to the same artifact,
# so version diffs stay minimal and re-syncs never re-rewrite.
# ``vacuum`` never reclaims "_"-prefixed directories, so materialized
# artifacts survive as long as the log references them.


def _dv_fingerprint(f: dict) -> str:
    dv = f.get("dv") or {}
    # The empty list is the slot of a retired inline-position DV form;
    # it stays so that existing ``_dv_materialized/`` names still match.
    key = json.dumps(
        [f["path"], [], sorted(dv.get("sidecars", [])), int(dv.get("count", 0))]
    )
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _has_dv(f: dict) -> bool:
    dv = f.get("dv")
    return bool(dv)


def _unit_key(f: dict) -> str:
    """Mirror identity of a private file entry: the path alone for a
    plain file, path@dv-fingerprint for a masked one (so a DV change
    reads as remove-old-rewrite / add-new-rewrite)."""
    return f["path"] if not _has_dv(f) else f"{f['path']}@{_dv_fingerprint(f)}"


def _materialized_rel(fp: str) -> str:
    return f"{_MATERIALIZED_DIR}/{fp}"


def _materialized_files(table, fp: str) -> list[str]:
    """Relative paths of the parquet files materialized for ``fp``
    (empty list = the whole source file was masked out)."""
    d = os.path.join(table.path, _MATERIALIZED_DIR, fp)
    return [
        f"{_materialized_rel(fp)}/{fn}"
        for fn in sorted(os.listdir(d))
        if fn.endswith(".parquet")
    ]


def _ensure_materialized(table, entry: dict) -> None:
    """Materialize every DV-carrying file of ``entry`` whose
    fingerprint directory does not exist yet, in ONE distributed job:
    scan the masked files with row positions, anti-join the DV
    positions, and write survivors partitioned by fingerprint — no
    per-row or per-file driver work, and output directories are
    atomically renamed into place so concurrent syncs race benignly."""
    dv_files = [f for f in entry["files"] if _has_dv(f)]
    pending = {
        _dv_fingerprint(f): f
        for f in dv_files
        if not os.path.isdir(os.path.join(table.path, _MATERIALIZED_DIR, _dv_fingerprint(f)))
    }
    if not pending:
        return
    schema = table._entry_schema(entry)
    part_cols = table.partition_columns()
    files = list(pending.values())
    cmap = {
        k: v
        for k, v in (entry.get("columnMap") or {}).items()
        if k != v
    }
    src = table._read_paths(
        [table._abs(f["path"]) for f in files], schema, with_meta=True,
        column_map=cmap,
    )
    dv_df = table._dv_df(files)
    kept = src.join(dv_df, ["__path", "__row_idx"], "left_anti")
    fp_map = local_df(
        table.spark,
        [(table._abs(f["path"]), fp) for fp, f in pending.items()],
        "__path string, __fp string",
    )
    kept = (
        kept.join(F.broadcast(fp_map), "__path")
        .drop("__path", "__row_idx", *part_cols)
        .repartition("__fp")
    )
    if cmap:
        # materialized artifacts carry PHYSICAL names like every
        # other data file (the fingerprint dir is shared across
        # versions whose logical names may differ)
        kept = kept.select(
            *[
                F.col(f.name).alias(cmap.get(f.name, f.name))
                for f in schema.fields
                if f.name not in part_cols
            ],
            "__fp",
        )
    base = os.path.join(table.path, _MATERIALIZED_DIR)
    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, f".tmp-{uuid.uuid4().hex}")
    kept.write.partitionBy("__fp").parquet(tmp)
    try:
        for fp in pending:
            src_dir = os.path.join(tmp, f"__fp={fp}")
            dst_dir = os.path.join(base, fp)
            if os.path.isdir(dst_dir):
                continue  # concurrent syncer (or earlier run) won
            if os.path.isdir(src_dir):
                try:
                    os.rename(src_dir, dst_dir)
                except OSError:
                    pass  # lost the rename race — winner's content is identical
            else:
                # every surviving row of this file was masked: an empty
                # fingerprint dir records "materializes to nothing"
                os.makedirs(dst_dir, exist_ok=True)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def latest_mirror_protocol(table) -> dict | None:
    """The protocol in force at the mirror's newest version, replayed
    like any reader's: the newest checkpoint (pruned to its protocol
    column), then the commits after it, so no commit below a newer
    checkpoint is opened. Returns None when the table has no
    ``_delta_log`` or the log has never written a protocol."""
    ddir = _delta_dir(table.path)
    if not os.path.isdir(ddir) or _log_head(ddir) is None:
        return None
    return _replay(ddir, columns=["protocol"])[1].protocol


def _vacuum_protocol_check(table) -> bool:
    """Whether the table opted in to the ``vacuumProtocolCheck``
    reader-writer marker feature at CREATE."""
    try:
        return table.vacuum_protocol_check_enabled()
    except AttributeError:  # duck-typed callers without the accessor
        return False


def _dv_native(table) -> bool:
    """Whether the table mirrors MoR deletion vectors NATIVELY as
    protocol ``deletionVector`` specs (reader-writer feature
    ``deletionVectors``) instead of materializing survivors."""
    try:
        return table.dv_mirror_policy() == "native"
    except AttributeError:  # duck-typed callers without the accessor
        return False


def _dv_positions(table, f: dict) -> list[int]:
    """All masked row positions of ONE private file entry, from its
    sidecar parquet dirs. Driver-side pyarrow read of change-sized
    sidecars — O(deleted rows of this file), never a Spark job per
    file."""
    import pyarrow.parquet as pq

    from .versioned import _dv_sidecars

    positions = []
    for s in _dv_sidecars(f):
        sdir = table._abs(s)
        parts = (
            [
                os.path.join(sdir, fn)
                for fn in sorted(os.listdir(sdir))
                if fn.endswith(".parquet")
            ]
            if os.path.isdir(sdir)
            else [sdir]
        )
        for part in parts:
            t = pq.read_table(part, columns=["path", "pos"])
            for row in t.to_pylist():
                if row["path"] == f["path"]:
                    positions.append(int(row["pos"]))
    return sorted(set(positions))


def _dv_add_action(
    table, f: dict, part_cols: list[str], ts: int, data_change: bool, cmap
) -> dict:
    """Native-DV add: the file itself plus a protocol
    ``deletionVector`` spec (storageType "u", roaring-bitmap .bin
    under the table root — dv_codec.py). ``numRecords`` stays the
    file's PHYSICAL row count and stats carry ``tightBounds: false``,
    both per the spec's DV rules. The .bin name derives
    deterministically from the DV fingerprint, so re-syncs reuse it
    (idempotent, first link wins)."""
    from .dv_codec import write_dv_file

    action = _add_action(table.path, f, part_cols, ts, data_change, cmap)
    spec = write_dv_file(
        table.path, _dv_positions(table, f), _dv_fingerprint(f)
    )
    action["add"]["deletionVector"] = spec
    stats = json.loads(action["add"].get("stats") or "{}")
    stats["tightBounds"] = False
    action["add"]["stats"] = json.dumps(stats)
    return action


def _unit_adds(
    table,
    f: dict,
    part_cols: list[str],
    ts: int,
    data_change: bool,
    cmap: dict | None = None,
) -> list[dict]:
    """The add action(s) mirroring one private file entry: the file
    itself, its file + native deletionVector spec (``dv_policy
    "native"``), or its materialized survivors (with the SOURCE
    file's partition values — materialized artifacts live outside
    the hive layout)."""
    if not _has_dv(f):
        return [_add_action(table.path, f, part_cols, ts, data_change, cmap)]
    if _dv_native(table):
        return [_dv_add_action(table, f, part_cols, ts, data_change, cmap)]
    if table.row_tracking_enabled():
        # Materialized DV survivors are a rewrite: the original file's
        # id range cannot describe them (the mask compacts positions),
        # and allocating fresh ids outside a commit would corrupt the
        # high-water mark. Refuse rather than silently de-track.
        raise DeltaMirrorError(
            f"deletion-vector file {f['path']!r} cannot be mirrored on a "
            f"row-tracking table: DV materialization rewrites survivors, "
            f"which invalidates the file's row-id range. Use copy-on-write "
            f"DELETE/UPDATE on row-tracking tables."
        )
    import pyarrow.parquet as pq

    pvals = _partition_values_raw(f["path"].replace(os.sep, "/"), part_cols)
    out = []
    for rel in _materialized_files(table, _dv_fingerprint(f)):
        abs_path = os.path.join(table.path, rel)
        out.append(
            {
                "add": {
                    "path": _add_path(rel),
                    "partitionValues": dict(pvals),
                    "size": os.path.getsize(abs_path),
                    "modificationTime": ts,
                    "dataChange": data_change,
                    "stats": json.dumps(
                        {"numRecords": pq.ParquetFile(abs_path).metadata.num_rows}
                    ),
                }
            }
        )
    return out


def _unit_remove_paths(table, f: dict) -> list[str]:
    """The delta ``add.path`` strings a unit previously contributed —
    what a remove action must name when the unit leaves the snapshot."""
    if not _has_dv(f) or _dv_native(table):
        return [_add_path(f["path"].replace(os.sep, "/"))]
    return [_add_path(rel) for rel in _materialized_files(table, _dv_fingerprint(f))]


def _unit_removes(
    table, f: dict, part_cols: list[str], ts: int, data_change: bool
) -> list[dict]:
    """Remove action(s) for a unit leaving the snapshot, enriched
    with the spec-RECOMMENDED fields external maintenance jobs use:
    ``extendedFileMetadata`` + ``partitionValues`` + ``size`` (a
    VACUUM implementation prunes by partition and accounts bytes from
    tombstones alone), and — for a native-DV unit — the outgoing
    ``deletionVector`` so DV-file reclamation can reference-count
    without replaying adds. Best-effort: a source file already
    reclaimed on disk degrades to the minimal required fields."""
    removes = []
    for path in _unit_remove_paths(table, f):
        rm: dict = {
            "path": path,
            "deletionTimestamp": ts,
            "dataChange": data_change,
        }
        rel = path.replace("/", os.sep)
        abs_path = rel if rel.startswith(os.sep) else os.path.join(table.path, rel)
        try:
            size = os.path.getsize(abs_path)
        except OSError:
            size = None
        if size is not None:
            rm["extendedFileMetadata"] = True
            rm["partitionValues"] = _partition_values_raw(
                path, part_cols
            )
            rm["size"] = size
            if _has_dv(f) and _dv_native(table):
                from .dv_codec import write_dv_file

                rm["deletionVector"] = write_dv_file(
                    table.path, _dv_positions(table, f), _dv_fingerprint(f)
                )
        removes.append({"remove": rm})
    return removes


def _files_present(table, entry: dict) -> bool:
    """All data files AND deletion-vector sidecars of this version
    still exist on disk (vacuum reclaims both for dropped versions)."""
    for f in entry["files"]:
        if not os.path.exists(table._abs(f["path"])):
            return False
        for s in (f.get("dv") or {}).get("sidecars", []):
            if not os.path.exists(table._abs(s)):
                return False
    return True


# ----------------------------------------------------------------- sync


def _unit_size_count(table, f: dict, part_cols: list[str], cmap) -> tuple[int, int]:
    """(bytes, file count) one private unit contributes to the live
    snapshot — the file itself, or its materialized DV survivors."""
    size = 0
    count = 0
    for action in _unit_adds(table, f, part_cols, 0, False, cmap):
        size += int(action["add"]["size"])
        count += 1
    return size, count


def _write_version_crc(
    table, ddir: str, version: int, entry: dict, prev: dict | None = None
) -> None:
    """Per-version checksum file (``<v>.crc`` — delta-spark's
    VersionChecksum, validated by delta-kernel readers): the summary
    state a reader can check a replayed snapshot against WITHOUT
    scanning data files. OSS field subset written here:
    ``tableSizeBytes`` (sum of live add sizes), ``numFiles``,
    ``numMetadata``, ``numProtocol``. Snapshot validation lives in
    ``read_delta_snapshot``; a corrupt replay (lost tombstone,
    missed compacted span, stale checkpoint) fails loudly at read
    time instead of silently returning wrong rows.

    Derived INCREMENTALLY when ``prev`` (the predecessor's private
    entry) is given: prior ``.crc`` totals plus this commit's
    add/remove unit deltas — O(changed units) in stat/footer
    syscalls, matching how delta-spark folds each commit's actions
    into the previous VersionChecksum. The full live-set recompute
    (O(total files) per version, O(F·V) over a backfill) runs only
    for v0, re-base snapshots, or when the prior crc / a removed
    unit's on-disk artifacts are gone."""
    part_cols = table.partition_columns()
    totals: tuple[int, int] | None = None
    if prev is not None and version > 0:
        try:
            with open(os.path.join(ddir, f"{version - 1:020d}.crc")) as fh:
                pc = json.load(fh)
            size = int(pc["tableSizeBytes"])
            count = int(pc["numFiles"])
            prev_units = {_unit_key(f): f for f in prev["files"]}
            cur_units = {_unit_key(f): f for f in entry["files"]}
            for key in cur_units.keys() - prev_units.keys():
                s, c = _unit_size_count(
                    table, cur_units[key], part_cols, entry.get("columnMap")
                )
                size += s
                count += c
            for key in prev_units.keys() - cur_units.keys():
                s, c = _unit_size_count(
                    table, prev_units[key], part_cols, prev.get("columnMap")
                )
                size -= s
                count -= c
            totals = (size, count)
        except (OSError, ValueError, KeyError):
            totals = None  # missing/corrupt prior crc or reclaimed unit
    if totals is None:
        size = 0
        count = 0
        for f in entry["files"]:
            s, c = _unit_size_count(table, f, part_cols, entry.get("columnMap"))
            size += s
            count += c
        totals = (size, count)
    _write_atomic(
        ddir,
        f"{version:020d}.crc",
        json.dumps(
            {
                "tableSizeBytes": totals[0],
                "numFiles": totals[1],
                "numMetadata": 1,
                "numProtocol": 1,
            }
        ),
    )


def sync(
    table, materialize_dvs: bool = False, known: dict[int, dict] | None = None
) -> int:
    """Bring ``_delta_log`` up to the private log's latest version.

    Exports forward only: every private version above the newest one
    the Delta log holds (:func:`_log_head`) is written in order by
    diffing consecutive private entries, so a crash between a commit
    and its mirror write heals on the next sync, and a prefix that
    log cleanup removed stays removed. Concurrent syncers race
    benignly — identical content, first ``os.link`` wins.

    Versions whose files were vacuumed are skipped and the log is
    re-based with a full-snapshot commit + checkpoint at the oldest
    fully-present version (raising :class:`DeltaMirrorError` up front
    if the LATEST version itself is missing files — a mirror that
    cannot represent the current table must not be written at all).

    ``materialize_dvs=False`` refuses MoR deletion-vector snapshots
    (protocol (1, 2) has no DV representation); ``True`` rewrites each
    masked file's survivors once per DV state (see the
    DV-materialization section above). The per-commit sync of
    ``delta_mirror=True`` tables passes ``True`` so the mirror stays
    consistent across ``delete_mor``.

    ``known`` maps versions to private entries already in memory (a
    commit passes the entry it just linked and its predecessor); only
    the other versions are read from disk: crash catch-up and a full
    ``export_delta_log``.

    Returns the latest mirrored version."""
    ddir = _delta_dir(table.path)
    os.makedirs(ddir, exist_ok=True)
    head = _log_head(ddir)
    mirrored = -1 if head is None else head
    latest = table.latest_version()
    missing = range(mirrored + 1, latest + 1)
    if not missing:
        return latest

    entries = dict(known or {})
    for v in missing:
        if v not in entries:
            entries[v] = table._read_log(v)
    native = _dv_native(table)
    for v in missing:
        for f in entries[v]["files"]:
            if _has_dv(f) and not materialize_dvs and not native:
                raise DeltaMirrorError(
                    f"version {v} carries a deletion vector on "
                    f"{f['path']!r}; protocol (1, 2) cannot represent "
                    "MoR sidecars — pass materialize_dvs=True to "
                    "rewrite survivors at sync time, create the table "
                    'with dv_mirror_policy="native" for protocol DVs, '
                    "or use copy-on-write delete()"
                )
    # Presence scan BEFORE writing anything: a backfill that crashed on
    # a vacuumed file mid-loop would leave a stale-latest log that
    # external readers silently trust.
    bad = [v for v in missing if not _files_present(table, entries[v])]
    if bad and max(bad) == latest:
        raise DeltaMirrorError(
            f"cannot mirror: current version {latest} is missing data "
            "files (vacuumed or corrupted) — the table itself is no "
            "longer fully readable at HEAD"
        )
    for v in missing:
        if v in bad:
            continue  # unexportable history: superseded by the re-base below
        entry = entries[v]
        if not native and any(_has_dv(f) for f in entry["files"]):
            _ensure_materialized(table, entry)
        if v == 0:
            actions = _actions_for(table, v, None, entry)
        elif v - 1 == mirrored:
            prev = entries.get(v - 1) or table._read_log(v - 1)
            if not native and any(_has_dv(f) for f in prev["files"]):
                _ensure_materialized(table, prev)
            actions = _actions_for(table, v, prev, entry)
        else:
            # predecessor unexportable: re-base with a full snapshot
            # commit + checkpoint (the protocol's cleaned-JSON-prefix
            # state; readers start at the checkpoint). The checkpoint
            # is that commit's state (a replay across the gap would
            # keep adds it removed) plus txn and tombstones from below.
            actions = _full_snapshot_actions(table, entry)
            _write_atomic(
                ddir, f"{v:020d}.json", "\n".join(json.dumps(a) for a in actions)
            )
            _write_version_crc(table, ddir, v, entry)
            state = _LogState()
            for a in actions:
                state.apply(a)
            if mirrored >= 0:
                below = _replay(ddir, mirrored, columns=["txn", "remove"])[1]
                state.txns = {**below.txns, **state.txns}
                state.removes = below.removes
            _write_checkpoint(ddir, v, state)
            mirrored = v
            continue
        _write_atomic(ddir, f"{v:020d}.json", "\n".join(json.dumps(a) for a in actions))
        _write_version_crc(table, ddir, v, entry, prev=None if v == 0 else prev)
        if v > 0 and v % _CHECKPOINT_EVERY == 0:
            _write_checkpoint(ddir, v, _replay(ddir, v)[1])
        mirrored = v
    return latest


_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def write_log_compaction(table, start: int, end: int) -> str:
    """Minor log compaction (Delta's ``<x>.<y>.compacted.json``): one
    file holding the exact action reconciliation of commits
    ``start..end`` — net adds (files added in range and not removed
    later in range), remove tombstones (paths removed in range),
    latest metaData/protocol if they changed, latest txn per appId,
    latest domainMetadata per domain. Readers MAY substitute the
    compacted file for the range; the JSON commits stay in place (log
    cleanup is the checkpoint's job, not compaction's).

    Scale story: between checkpoints a reader replays up to
    _CHECKPOINT_EVERY small JSON files per table — at many tables ×
    frequent commits, listing+reading those dominates snapshot
    construction cost. A compacted range collapses that to one read
    while staying pure metadata (O(#net actions) driver work)."""
    ddir = _delta_dir(table.path)
    if start >= end:
        raise ValueError("compaction range must span at least two commits")
    state = _LogState()
    for v in range(start, end + 1):
        p = os.path.join(ddir, f"{v:020d}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"cannot compact [{start}, {end}]: commit {v} missing"
            )
        for action in _commit_actions(p):
            state.apply(action)
    name = f"{start:020d}.{end:020d}.compacted.json"
    _write_atomic(ddir, name, "\n".join(json.dumps(a) for a in state.actions()))
    return os.path.join(ddir, name)


def _compacted_spans(ddir: str) -> dict[int, list[tuple[int, str]]]:
    """start → [(end, filename), ...] for every compacted range on
    disk, widest end first. ALL ranges per start are kept: after a
    re-compaction ([1,3] then [1,5]) a reader targeting version 3 must
    still find the narrower file — keeping only the widest would make
    version 3 unreconstructible once its JSONs were cleaned (r6
    review)."""
    out: dict[int, list[tuple[int, str]]] = {}
    for fn in os.listdir(ddir):
        m = _COMPACTED_RE.match(fn)
        if m:
            s, e = int(m.group(1)), int(m.group(2))
            out.setdefault(s, []).append((e, fn))
    for spans in out.values():
        spans.sort(reverse=True)
    return out


def cleanup_expired_logs(
    table, retention_ms: int = _LOG_RETENTION_MS, now_ms: int | None = None
) -> list[str]:
    """Metadata cleanup (Delta's ``delta.logRetentionDuration``, the
    counterpart VACUUM is to data files): delete log files BELOW the
    latest checkpoint that are older than the retention window —
    JSON commits, compacted ranges fully under the checkpoint, and
    superseded checkpoints — then garbage-collect V2 sidecars no
    retained manifest references. Returns the deleted names.

    Contract (matching Delta): versions below the earliest surviving
    checkpoint become unreconstructible — time travel is bounded by
    the retention window by design; the protocol readers raise their
    descriptive not-reconstructible error for them. Checkpoints are
    self-contained for replay, and the checkpoint writer replays
    from the prior checkpoint, so nothing a FUTURE checkpoint needs
    lives only in the deleted JSONs; :func:`sync` exports only above
    the newest version the log holds, so the deleted prefix stays
    deleted. Sidecar
    GC is reference-counted against every retained manifest — an
    incremental checkpoint's REUSED sidecars are exactly the case a
    name-based cleanup would corrupt.

    Scale story: a 100 TB table commits continuously; an unbounded
    log is a listing cost on every snapshot and an O(history) burden
    on small-file storage. Cleanup keeps the log O(retention), purely
    driver-side metadata work, no data files touched."""
    import time as _time

    ddir = _delta_dir(table.path)
    cp_map = _checkpoint_versions(ddir)
    if not cp_map:
        return []  # nothing is replay-safe to delete without a checkpoint
    latest_cp = max(cp_map)
    cutoff = (now_ms if now_ms is not None else int(_time.time() * 1000)) - retention_ms

    def _expired(fn: str) -> bool:
        return os.path.getmtime(os.path.join(ddir, fn)) * 1000 <= cutoff

    deleted: list[str] = []
    # Replay from the latest checkpoint starts at latest_cp + 1, so
    # the JSON AT the checkpoint version is itself redundant.
    for v in _commit_versions(ddir):
        fn = f"{v:020d}.json"
        if v <= latest_cp and _expired(fn):
            os.remove(os.path.join(ddir, fn))
            deleted.append(fn)
            try:  # the version checksum travels with its commit
                os.remove(os.path.join(ddir, f"{v:020d}.crc"))
                deleted.append(f"{v:020d}.crc")
            except FileNotFoundError:
                pass
    for start, spans in _compacted_spans(ddir).items():
        for end, fn in spans:
            if end <= latest_cp and _expired(fn):
                os.remove(os.path.join(ddir, fn))
                deleted.append(fn)
    for v, fn in cp_map.items():
        if v < latest_cp and _expired(fn):
            for part in _checkpoint_files(ddir, fn):
                try:
                    os.remove(os.path.join(ddir, part))
                    deleted.append(part)
                except FileNotFoundError:
                    pass
    # Orphan multi-part sweep: incomplete sets (crashed writes,
    # cleanup interrupted mid-set) and sets shadowed by a single/V2
    # form never appear in cp_map via their own representative, so
    # the loop above can never reclaim them — without this pass they
    # would leak in a log whose whole cleanup contract is bounded
    # size. Anything below the latest checkpoint is replay-redundant.
    # An INCOMPLETE set (a crashed re-split, at ANY version — at,
    # below, or above latest_cp) is unusable by every reader and
    # would otherwise leak forever: group parts by (version, total)
    # and reclaim expired members of sets missing a part. The
    # retention-window mtime guard (_expired) is what protects a
    # write still in flight. Complete sets at or above latest_cp are
    # never touched — one may be the live representative or a newer
    # checkpoint; any other complete total reconciles identically.
    by_set: dict[tuple[int, int], dict[int, str]] = {}
    for fn in os.listdir(ddir):
        mm = _CP_MULTIPART_RE.match(fn)
        if mm:
            by_set.setdefault(
                (int(mm.group(1)), int(mm.group(3))), {}
            )[int(mm.group(2))] = fn
    incomplete = {
        fn
        for (_v, total), parts in by_set.items()
        if set(parts) != set(range(1, total + 1))
        for fn in parts.values()
    }
    for fn in list(os.listdir(ddir)):
        mm = _CP_MULTIPART_RE.match(fn)
        if not mm or fn in deleted:
            continue
        v = int(mm.group(1))
        if (v < latest_cp or fn in incomplete) and _expired(fn):
            try:
                os.remove(os.path.join(ddir, fn))
                deleted.append(fn)
            except FileNotFoundError:
                pass
    # V2 sidecar GC: keep exactly what surviving manifests reference.
    sdir = os.path.join(ddir, "_sidecars")
    if os.path.isdir(sdir):
        referenced = {
            row["sidecar"]["path"]
            for fn in _checkpoint_versions(ddir).values()
            for row in _checkpoint_actions(ddir, fn, ["sidecar"])
            if row.get("sidecar")
        }
        for fn in os.listdir(sdir):
            # mtime grace: _write_checkpoint_v2 links sidecars into
            # place BEFORE its manifest lands, so an unreferenced
            # sidecar younger than the retention cutoff may belong to
            # an in-flight checkpoint — deleting it would orphan the
            # manifest written moments later. Only reap sidecars old
            # enough that no surviving manifest could still adopt them.
            if (
                fn.endswith(".parquet")
                and fn not in referenced
                and os.path.getmtime(os.path.join(sdir, fn)) * 1000 <= cutoff
            ):
                os.remove(os.path.join(sdir, fn))
                deleted.append(os.path.join("_sidecars", fn))
    # Native-DV bin GC: ``deletion_vector_*.bin`` files are
    # mirror-owned (the private layer never writes them) and are
    # replaced — not mutated — whenever a file's DV grows, so stale
    # states accumulate. Reclaim every bin referenced by NO surviving
    # log artifact (commit JSONs, compacted ranges, checkpoints incl.
    # V2 sidecar shards), with the same mtime grace as sidecars: a
    # concurrent sync links bins before its commit JSON lands.
    if _dv_native(table):
        deleted += _gc_dv_bins(table, ddir, cutoff)
    return deleted


def _gc_dv_bins(table, ddir: str, cutoff: float) -> list[str]:
    from .dv_codec import dv_file_rel_path

    referenced: set[str] = set()

    def _ref(action_add: dict | None) -> None:
        spec = (action_add or {}).get("deletionVector")
        if spec:
            rel = dv_file_rel_path(dict(spec))
            if rel:
                referenced.add(rel)

    jsons = [f"{v:020d}.json" for v in _commit_versions(ddir)] + [
        fn for spans in _compacted_spans(ddir).values() for _e, fn in spans
    ]
    for fn in jsons:
        for action in _commit_actions(os.path.join(ddir, fn)):
            _ref(action.get("add"))
    # Every checkpoint a reader can pick: the sidecar GC above keeps
    # exactly these manifests' sidecars. Another checkpoint of the
    # same version reconciles the same snapshot, so it references the
    # same bins.
    for fn in _checkpoint_versions(ddir).values():
        for row in _checkpoint_actions(ddir, fn, ["add"]):
            _ref(row.get("add"))
    deleted: list[str] = []
    for fn in os.listdir(table.path):
        if (
            fn.startswith("deletion_vector_")
            and fn.endswith(".bin")
            and fn not in referenced
            and os.path.getmtime(os.path.join(table.path, fn)) * 1000 <= cutoff
        ):
            os.remove(os.path.join(table.path, fn))
            deleted.append(fn)
    return deleted


def write_checkpoint(
    table, materialize_dvs: bool = False, parts: int | None = None
) -> int:
    """Force a checkpoint at the mirror's LATEST version, regardless
    of the every-N cadence (Delta's explicit ``DeltaLog.checkpoint()``
    surface — run it before handing the log to a reader that should
    not replay the JSON prefix, or before cleaning that prefix up).
    Syncs the mirror first; returns the checkpointed version. The
    checkpoint is the replay of ``_delta_log`` at that version, written
    in the table's declared policy (classic or V2 manifest +
    sidecars)."""
    latest = sync(table, materialize_dvs=materialize_dvs)
    ddir = _delta_dir(table.path)
    _write_checkpoint(ddir, latest, _replay(ddir, latest)[1], parts=parts)
    return latest


def _commit_info(table, entry: dict, ts: int) -> dict:
    info = {
        "timestamp": ts,
        "operation": entry.get("operation", "WRITE"),
        "operationParameters": _op_params_strings(
            entry.get("operationParameters", {})
        ),
    }
    if table.ict_enabled():
        # inCommitTimestamp (writer feature): the commit's own clock —
        # the private log's strictly-increasing commit timestamp, so
        # monotonicity holds by construction. commitInfo must be the
        # commit's first action when the feature is enabled (it is).
        info["inCommitTimestamp"] = ts
    return {"commitInfo": info}


def _full_snapshot_actions(table, entry: dict) -> list[dict]:
    """protocol + metaData + every live add — a self-contained re-base
    commit for a version whose predecessors cannot be exported."""
    ts = _ts_ms(entry["timestamp"])
    part_cols = table.partition_columns()
    tchanges = _type_changes(table, entry)  # computed once, fed to both
    actions = [
        _commit_info(table, entry, ts),
        _protocol_action(table, entry, tchanges),
        _meta_action(table, entry, tchanges),
    ]
    # carry forward the latest SetTransaction per appId from the
    # private log — idempotent writers must survive a re-base
    latest_txn: dict[str, dict] = {}
    for v in sorted(table._versions()):
        if v > entry["version"]:
            continue
        txn = table._read_log_raw(v).get("txn")
        if txn:
            latest_txn[txn["appId"]] = {
                "appId": txn["appId"],
                "version": int(txn["version"]),
                "lastUpdated": ts,
            }
    for t in latest_txn.values():
        actions.append({"txn": t})
    if "rowIdHighWaterMark" in entry:
        actions.append(_row_tracking_domain(entry))
    if entry.get("clusterBy"):
        actions.append(_clustering_domain(entry))
    for f in entry["files"]:
        actions.extend(
            _unit_adds(table, f, part_cols, ts, True, entry.get("columnMap"))
        )
    return actions


def _row_tracking_domain(entry: dict) -> dict:
    """``domainMetadata`` action carrying the row-id high-water mark
    (PROTOCOL.md row tracking: domain ``delta.rowTracking``)."""
    return {
        "domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps(
                {"rowIdHighWaterMark": int(entry["rowIdHighWaterMark"])}
            ),
            "removed": False,
        }
    }


def _clustering_domain(entry: dict) -> dict:
    """``domainMetadata`` action declaring a clustered table's
    clustering columns (PROTOCOL.md clustered tables: domain
    ``delta.clustering``; delta-spark's liquid-clustering metadata).
    Column paths nest one level per struct hop — this layer clusters
    on top-level columns only, so each path is a single element."""
    return {
        "domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                {"clusteringColumns": [[c] for c in entry["clusterBy"]]}
            ),
            "removed": False,
        }
    }


def _actions_for(table, version: int, prev: dict | None, entry: dict) -> list[dict]:
    ts = _ts_ms(entry["timestamp"])
    part_cols = table.partition_columns()
    # A commit whose CDF capture ran and recorded ZERO rows (e.g. a
    # RESTORE reverting a layout-only OPTIMIZE) is content-preserving:
    # its file swaps mirror with dataChange=false — exactly OPTIMIZE's
    # treatment — so protocol CDF readers and streams correctly skip
    # it instead of refusing a "rewrite without change data".
    captured_empty = "cdcFiles" in entry and not entry["cdcFiles"]
    data_change = (
        entry.get("operation") not in _DATA_NEUTRAL_OPS and not captured_empty
    )
    actions: list[dict] = [_commit_info(table, entry, ts)]
    if version == 0:
        tchanges = _type_changes(table, entry)
        actions.append(_protocol_action(table, entry, tchanges))
        actions.append(_meta_action(table, entry, tchanges))
        prev_units: dict[str, dict] = {}
    else:
        assert prev is not None
        # ANY commit that records a columnDefaults state (ALTERs, and
        # RESTOREs since r10) may change the effective defaults
        # without changing the schema shape — e.g. RESTORE back into
        # (or out of) a defaulted state with identical column
        # names/types. The mirror's CURRENT_DEFAULT metadata lives in
        # metaData, so such a commit must re-emit metaData too, and a
        # reset-to-{} record must as well (the mirror would otherwise
        # keep advertising a ghost default forever).
        defaults_recorded = (
            "columnDefaults" in entry.get("operationParameters", {})
        )
        emit_proto = (
            (_is_mapped(entry) and not _is_mapped(prev))
            or (entry.get("clusterBy") and not prev.get("clusterBy"))
            or _widening_between(prev, entry)
            # an ALTER recording column defaults upgrades the protocol
            # in the same commit (re-declaration is idempotent)
            or defaults_recorded
        )
        emit_meta = (
            entry["schema"] != prev["schema"]
            or entry.get("columnMap") != prev.get("columnMap")
            or defaults_recorded
            # the identity high-water mark rides in metaData, so the
            # commit that advances it re-declares it
            or entry.get("identityHighWaterMark")
            != prev.get("identityHighWaterMark")
        )
        if emit_proto or emit_meta:
            tchanges = _type_changes(table, entry)  # once for both
        if emit_proto:
            # column mapping / clustering / type widening first
            # enabled here: upgrade the protocol in the same commit
            # (legal mid-log per spec)
            actions.append(_protocol_action(table, entry, tchanges))
        if emit_meta:
            actions.append(_meta_action(table, entry, tchanges))
        prev_units = {_unit_key(f): f for f in prev["files"]}
    cur_units = {_unit_key(f): f for f in entry["files"]}
    for key in sorted(prev_units.keys() - cur_units.keys()):
        actions.extend(
            _unit_removes(table, prev_units[key], part_cols, ts, data_change)
        )
    cmap = entry.get("columnMap")
    for key in sorted(cur_units.keys() - prev_units.keys()):
        actions.extend(
            _unit_adds(table, cur_units[key], part_cols, ts, data_change, cmap)
        )
    if "rowIdHighWaterMark" in entry and (
        prev is None
        or entry["rowIdHighWaterMark"] != prev.get("rowIdHighWaterMark")
    ):
        actions.append(_row_tracking_domain(entry))
    prev_cb = (prev or {}).get("clusterBy")
    if entry.get("clusterBy") != prev_cb:
        if entry.get("clusterBy"):
            actions.append(_clustering_domain(entry))
        elif prev_cb:
            # clustering dropped: tombstone the domain so replay and
            # compaction reconciliation stop advertising stale columns
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": json.dumps({"clusteringColumns": []}),
                        "removed": True,
                    }
                }
            )
    for f in entry.get("cdcFiles", []):
        actions.append(_cdc_action(table.path, f, part_cols))
    if entry.get("txn"):
        actions.append(
            {
                "txn": {
                    "appId": entry["txn"]["appId"],
                    "version": int(entry["txn"]["version"]),
                    "lastUpdated": ts,
                }
            }
        )
    return actions


def _write_atomic(ddir: str, name: str, content: str) -> None:
    tmp = os.path.join(ddir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(content)
    try:
        os.link(tmp, os.path.join(ddir, name))
    except FileExistsError:
        pass  # a concurrent syncer wrote identical content first
    finally:
        os.unlink(tmp)


# ------------------------------------------------------------------ checkpoint


def _checkpoint_schema(v2_manifest: bool = False):
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    extra = []
    if v2_manifest:
        # V2 top-level checkpoint rows (PROTOCOL.md v2Checkpoint):
        # a checkpointMetadata action naming the version, and one
        # sidecar action per file-action shard under _sidecars/.
        extra = [
            pa.field(
                "checkpointMetadata",
                pa.struct(
                    [
                        pa.field("version", pa.int64()),
                        pa.field("tags", str_map),
                    ]
                ),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("sizeInBytes", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("tags", str_map),
                    ]
                ),
            ),
        ]
    return pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        # table-features form (writer 7); absent below
                        pa.field("writerFeatures", pa.list_(pa.string())),
                        pa.field("readerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            *extra,
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field("name", pa.string()),
                        pa.field("description", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field("options", str_map),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", str_map),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", str_map),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                        # rowTracking (absent on untracked tables)
                        pa.field("baseRowId", pa.int64()),
                        pa.field("defaultRowCommitVersion", pa.int64()),
                        # deletionVectors (null on non-DV adds)
                        pa.field(
                            "deletionVector",
                            pa.struct(
                                [
                                    pa.field("storageType", pa.string()),
                                    pa.field("pathOrInlineDv", pa.string()),
                                    pa.field("offset", pa.int32()),
                                    pa.field("sizeInBytes", pa.int32()),
                                    pa.field("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("deletionTimestamp", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                        pa.field("lastUpdated", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "domainMetadata",
                pa.struct(
                    [
                        pa.field("domain", pa.string()),
                        pa.field("configuration", pa.string()),
                        pa.field("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


def _write_checkpoint(
    ddir: str, version: int, state: _LogState, parts: int | None = None
) -> None:
    """Write ``state``, the log reconciled at ``version``, as that
    version's checkpoint in the form its protocol declares: classic
    single-file (default), multi-part classic when ``parts`` is given
    (the external-writer split form — delta-spark's
    ``checkpoint.partSize`` behavior), or V2 manifest + sidecars (the
    ``v2Checkpoint`` feature of ``checkpoint_policy="v2"`` tables),
    plus ``_last_checkpoint`` so readers can skip — or survive the
    cleanup of — the JSON prefix. A state that disagrees with the
    version's ``.crc`` raises before any file is written."""
    _check_crc(ddir, version, state)
    rows = _checkpoint_rows(state)
    if "v2Checkpoint" in (state.protocol.get("writerFeatures") or []):
        if parts and parts > 1:
            raise ValueError(
                "parts= is the multi-part CLASSIC form; a v2-policy "
                "table shards through sidecars instead — dropping the "
                "argument silently would break the caller's layout "
                "expectations"
            )
        _write_checkpoint_v2(ddir, version, rows)
    else:
        _write_checkpoint_classic(
            ddir, version, rows, parts if parts and parts > 1 else None
        )


def _checkpoint_rows(state: _LogState) -> list[dict]:
    """A reconciled log state as checkpoint action rows: the protocol,
    the metaData, the latest txn per appId, the live domainMetadata,
    one add per live file and the remove tombstones still inside
    delta.deletedFileRetentionDuration of the last replayed commit
    (all of them when the replay read no commit past the previous
    checkpoint, which filtered them already), so idempotent writers
    can resume and external VACUUM / incremental readers still see
    recently removed files after the JSON prefix is cleaned up
    (PROTOCOL.md checkpoint contents). Checkpoint rows are
    reconciliations, not new data: adds and removes carry
    dataChange=false."""
    if state.protocol is None or state.meta is None:
        raise DeltaMirrorError("cannot checkpoint a log without protocol and metaData")
    floor = (
        None
        if state.timestamp is None
        else state.timestamp - _TOMBSTONE_RETENTION_MS
    )
    return [
        {"protocol": state.protocol},
        {"metaData": state.meta},
        *({"txn": t} for t in state.txns.values()),
        *(
            {"domainMetadata": d}
            for d in state.domains.values()
            if not d.get("removed")
        ),
        *({"add": {**a, "dataChange": False}} for a in state.adds.values()),
        *(
            {
                "remove": {
                    "path": path,
                    "deletionTimestamp": rm.get("deletionTimestamp"),
                    "dataChange": False,
                }
            }
            for path, rm in state.removes.items()
            if path not in state.adds
            and (floor is None or (rm.get("deletionTimestamp") or 0) >= floor)
        ),
    ]


def _write_checkpoint_classic(
    ddir: str, version: int, rows: list[dict], parts: int | None = None
) -> None:
    """Classic checkpoint: one ``<v>.checkpoint.parquet``, or with
    ``parts`` the same rows striped across files named
    ``<v>.checkpoint.<part>.<total>.parquet``, all written before
    ``_last_checkpoint`` flips, so a racing reader never sees a
    half-published set (incomplete sets are ignored by
    ``_checkpoint_versions`` on both sides of that race)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = parts or 1
    per = -(-len(rows) // n)  # ceil; a part may be action-empty
    for i in range(n):
        tbl = pa.Table.from_pylist(
            rows[i * per : (i + 1) * per], schema=_checkpoint_schema()
        )
        tmp = os.path.join(ddir, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(tbl, tmp)
        name = (
            f"{version:020d}.checkpoint.parquet"
            if parts is None
            else f"{version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
        )
        try:
            os.link(tmp, os.path.join(ddir, name))
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
    _write_last_checkpoint(ddir, version, len(rows), parts=parts)


def _sidecar_schema():
    """File actions only — the V2 spec restricts sidecar files to
    add/remove; everything else lives in the top-level manifest."""
    full = _checkpoint_schema()
    import pyarrow as pa

    return pa.schema([full.field("add"), full.field("remove")])


def _sidecar_bucket(action: dict, n_buckets: int) -> int:
    """Stable shard assignment: hash of the file PATH (the one field
    both action kinds carry and that never changes for a given file),
    so an unchanged file lands in the same bucket at every
    checkpoint."""
    path = action["add"]["path"] if "add" in action else action["remove"]["path"]
    return int.from_bytes(
        hashlib.sha256(path.encode()).digest()[:4], "big"
    ) % n_buckets


def _bucket_fingerprint(actions: list[dict]) -> str:
    """Content fingerprint of one bucket's actions. A checkpoint's
    actions are the replayed log's, so an unchanged file keeps the
    same add, its own commit's ``modificationTime`` included, from
    one checkpoint to the next (``_LogState.apply`` reads checkpoint
    rows into the form commits carry), and its bucket keeps its
    fingerprint."""
    canon = sorted(json.dumps(a, sort_keys=True) for a in actions)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def _prev_sidecar_index(ddir: str, version: int) -> dict[tuple[str, str], dict]:
    """(bucket_tag, fingerprint) → sidecar action of the newest V2
    manifest strictly below ``version`` — the reuse candidates for an
    incremental checkpoint. Manifests written before fingerprint tags
    existed simply contribute nothing."""
    prev = [
        (v, fn)
        for v, fn in _checkpoint_versions(ddir).items()
        if v < version
        and not fn.endswith(".checkpoint.parquet")
        and not _CP_MULTIPART_RE.match(fn)  # multi-part classic: no sidecars
    ]
    if not prev:
        return {}
    _, fn = max(prev)
    out: dict[tuple[str, str], dict] = {}
    for row in _checkpoint_actions(ddir, fn, ["sidecar"]):
        sc = row.get("sidecar")
        if not sc:
            continue
        tags = dict(sc.get("tags") or {})
        if "bucket" in tags and "fingerprint" in tags:
            out[(tags["bucket"], tags["fingerprint"])] = sc
    return out


def _write_checkpoint_v2(ddir: str, version: int, rows: list[dict]) -> None:
    """V2 checkpoint (reader-writer feature ``v2Checkpoint``): the
    uuid-named top-level manifest carries a checkpointMetadata
    action, the non-file actions (protocol / metaData / txn /
    domainMetadata), and one ``sidecar`` action per file-action shard
    written under ``_delta_log/_sidecars/``.

    Scale shape — the reason this policy exists: a 100 TB snapshot
    has millions of add actions, so the classic single-file write is
    a driver-bound serial pass and every reader must scan one giant
    file. Sidecar sharding bounds the manifest at O(#shards) rows,
    shards can be written/fetched in parallel, and — the format's
    actual point (VERDICT r6 ask #3) — checkpoint N+1 REUSES every
    sidecar whose content did not change: file actions shard by a
    stable hash of their path, each shard carries a content
    fingerprint in its sidecar tags, and a shard matching the
    previous manifest's (bucket, fingerprint) is referenced without
    being rewritten (sidecars are immutable and uuid-named, so a
    reference is always safe). Bucket count grows in powers of two,
    so a doubling reshuffles once and reuse resumes between
    doublings. Concurrent syncers race benignly: uuid manifests
    never collide, multiple checkpoints at one version are
    spec-legal, readers pick either."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    file_actions = [r for r in rows if "add" in r or "remove" in r]
    top = [r for r in rows if not ("add" in r or "remove" in r)]
    sdir = os.path.join(ddir, "_sidecars")
    os.makedirs(sdir, exist_ok=True)
    need = max(1, -(-len(file_actions) // _SIDECAR_ACTIONS))
    n_buckets = 1 << (need - 1).bit_length()
    buckets: dict[int, list[dict]] = {}
    for a in file_actions:
        buckets.setdefault(_sidecar_bucket(a, n_buckets), []).append(a)
    prev = _prev_sidecar_index(ddir, version)
    side_rows = []
    for b in sorted(buckets) or [0]:
        shard = buckets.get(b, [])
        bucket_tag = f"{b}/{n_buckets}"
        fp = _bucket_fingerprint(shard)
        reused = prev.get((bucket_tag, fp))
        if reused is not None and os.path.exists(
            os.path.join(sdir, reused["path"])
        ):
            side_rows.append({"sidecar": {**reused, "tags": dict(reused["tags"])}})
            continue
        name = f"{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(sdir, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(pa.Table.from_pylist(shard, schema=_sidecar_schema()), tmp)
        os.replace(tmp, os.path.join(sdir, name))
        st = os.stat(os.path.join(sdir, name))
        side_rows.append(
            {
                "sidecar": {
                    "path": name,
                    "sizeInBytes": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "tags": {"bucket": bucket_tag, "fingerprint": fp},
                }
            }
        )
    manifest = (
        [{"checkpointMetadata": {"version": version, "tags": None}}]
        + top
        + side_rows
    )
    tbl = pa.Table.from_pylist(manifest, schema=_checkpoint_schema(v2_manifest=True))
    tmp = os.path.join(ddir, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(tbl, tmp)
    cp_name = f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
    os.replace(tmp, os.path.join(ddir, cp_name))
    _write_last_checkpoint(ddir, version, len(manifest) + len(file_actions))


def _write_last_checkpoint(
    ddir: str, version: int, size: int, parts: int | None = None
) -> None:
    tmp = os.path.join(ddir, f".tmp-{uuid.uuid4().hex}")
    payload = {"version": version, "size": size}
    if parts is not None:
        payload["parts"] = parts  # multi-part classic form (spec field)
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, os.path.join(ddir, "_last_checkpoint"))


# ---------------------------------------------------------------------- reader


def _decode_path(table_path: str, p: str) -> str:
    p = unquote(p)
    if p.startswith("file://"):
        p = p[len("file:") :]
        while p.startswith("//"):
            p = p[1:]
    if not p.startswith("/"):
        p = os.path.join(table_path, p)
    return p


def resolve_delta_timestamp(table_path: str, timestamp_ms: int) -> int:
    """Timestamp→version resolution the way an external ICT-aware
    reader does it: the max version whose ``commitInfo.
    inCommitTimestamp`` is ≤ the probe — reading the LOG's clock, not
    commit-file modification times (the whole point of the
    ``inCommitTimestamp`` feature: file mtimes change on copy/restore;
    the in-commit clock travels with the log)."""
    ddir = _delta_dir(table_path)
    best: int | None = None
    for v in _commit_versions(ddir):
        # commitInfo is the first action when the feature is enabled
        actions = _commit_actions(os.path.join(ddir, f"{v:020d}.json"))
        first = next(actions, {})
        actions.close()
        ict = first.get("commitInfo", {}).get("inCommitTimestamp")
        if ict is None:
            raise DeltaMirrorError(
                f"commit {v} carries no inCommitTimestamp — the table "
                f"does not declare the inCommitTimestamp feature"
            )
        if ict <= timestamp_ms:
            best = v
    if best is None:
        raise ValueError(f"no delta version at or before {timestamp_ms} ms")
    return best


def _read_state(table_path: str, version: int | None) -> tuple[int, _LogState]:
    """The protocol reader's replay, shared by :func:`read_delta_snapshot`
    and :func:`read_delta_domains`: :func:`_replay`, then the reader
    protocol gate and the version-checksum check."""
    ddir = _delta_dir(table_path)
    version, state = _replay(ddir, version)

    # Protocol gate (PROTOCOL.md reader responsibilities): a reader
    # MUST refuse tables demanding a newer reader version or naming a
    # reader feature it does not implement — silently misreading (e.g.
    # returning deleted rows of an un-applied DV scheme) is the one
    # failure mode the protocol exists to prevent.
    protocol = state.protocol
    if protocol is not None:
        mrv = int(protocol.get("minReaderVersion") or 1)
        if mrv > 3:
            raise DeltaMirrorError(
                f"table requires minReaderVersion {mrv}; this reader "
                f"implements up to 3"
            )
        unknown = set(protocol.get("readerFeatures") or []) - (
            _SUPPORTED_READER_FEATURES
        )
        if unknown:
            raise DeltaMirrorError(
                f"table requires reader features {sorted(unknown)} this "
                f"reader does not implement "
                f"(supported: {sorted(_SUPPORTED_READER_FEATURES)})"
            )

    _check_crc(ddir, version, state)
    return version, state


def _check_crc(ddir: str, version: int, state: _LogState) -> None:
    """Version-checksum validation (``<v>.crc``, delta-spark's
    VersionChecksum): the replayed file set must match the summary
    the writer recorded at commit time — a lost tombstone, missed
    compacted span, or stale checkpoint fails loudly here instead of
    silently returning wrong rows or being checkpointed."""
    crc_path = os.path.join(ddir, f"{version:020d}.crc")
    if not os.path.exists(crc_path):
        return
    with open(crc_path) as fh:
        crc = json.load(fh)
    got_files = len(state.adds)
    got_size = sum(int(a.get("size") or 0) for a in state.adds.values())
    if crc.get("numFiles") != got_files or crc.get("tableSizeBytes") != got_size:
        raise DeltaMirrorError(
            f"version checksum mismatch at {version}: crc says "
            f"{crc.get('numFiles')} files / {crc.get('tableSizeBytes')} "
            f"bytes, replay produced {got_files} / {got_size}"
        )


def read_delta_domains(
    table_path: str, version: int | None = None
) -> dict[str, dict]:
    """Replayed ``domainMetadata`` state at ``version`` through the
    ``_delta_log`` ONLY (checkpoint + JSON; the same traversal as
    :func:`read_delta_snapshot`): ``{domain: parsed configuration}``.
    This is how an external client discovers e.g. a clustered table's
    clustering columns (domain ``delta.clustering``) after the JSON
    prefix that declared them was checkpointed and cleaned up."""
    _, state = _read_state(table_path, version)
    out: dict[str, dict] = {}
    for name, d in state.domains.items():
        if d.get("removed"):
            continue  # a removed tombstone drops the domain
        cfg = d.get("configuration")
        out[name] = json.loads(cfg) if isinstance(cfg, str) else (cfg or {})
    return out


def _scan_files(
    spark: SparkSession,
    table_path: str,
    files: list[dict],
    meta: dict,
    extra: tuple[T.StructField, ...] = (),
    mask: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The data files named by ``files`` (add or cdc actions) as one
    DataFrame of the logical columns of ``meta`` (a metaData action):
    each partition's files are read under their PHYSICAL column names
    (column mapping mode "name" advertises them in field metadata),
    aliased back to the logical names, and given their partition
    values as literals, as the protocol requires (partition columns
    are absent from the data files). ``extra`` fields are read as
    stored and kept after the table columns; ``mask`` is applied to
    each raw parquet read."""
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    phys = {
        f.name: (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )
        for f in schema.fields
    }
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    read_schema = T.StructType(
        [T.StructField(phys[f.name], f.dataType, True) for f in data_fields]
        + list(extra)
    )
    if not files:
        # strip mapping metadata from the returned schema
        return empty_df(
            spark,
            T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in schema.fields]
                + list(extra)
            ),
        )
    names = [f.name for f in schema.fields] + [f.name for f in extra]
    types = {f.name: f.dataType for f in schema.fields}
    by_part: dict[tuple, list[str]] = {}
    for a in files:
        key = tuple((a.get("partitionValues") or {}).get(c) for c in part_cols)
        by_part.setdefault(key, []).append(_decode_path(table_path, a["path"]))
    out: DataFrame | None = None
    for key, paths in sorted(by_part.items(), key=lambda kv: repr(kv[0])):
        df = spark.read.schema(read_schema).parquet(*paths)
        if mask is not None:
            df = mask(df)
        df = df.select(
            *[F.col(phys[f.name]).alias(f.name) for f in data_fields],
            *[f.name for f in extra],
        )
        for c, raw in zip(part_cols, key):
            df = df.withColumn(c, F.lit(raw).cast(types[c]))
        df = df.select(*names)
        out = df if out is None else out.unionByName(df)
    return out


def read_delta_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a Delta table through its ``_delta_log`` ONLY — an
    independent protocol reader (checkpoint + JSON replay), the local
    stand-in for delta-rs / DuckDB-delta, which this environment
    cannot install. Partition columns are reconstructed from each
    add-file's ``partitionValues`` exactly as the protocol requires
    (they are absent from the data files).

    Handles logs whose JSON prefix was cleaned up (or never written —
    a vacuum-hole re-base) past a checkpoint: the latest version is
    the max over JSON commits AND checkpoints, and replay starts at
    the newest usable checkpoint. Requesting a version below every
    checkpoint with its JSON missing raises a descriptive error."""
    _, state = _read_state(table_path, version)
    if state.meta is None:
        raise ValueError("no metaData action found — not a valid delta log")

    # Native deletion vectors (reader-writer feature): decode each
    # add's roaring bitmap and mask (file, row_index) pairs with a
    # broadcast anti-join on the parquet _metadata columns — the same
    # plan shape the private MoR read uses. Decode is driver-side,
    # O(total deleted rows); a cluster-scale reader would decode
    # distributedly (mapInPandas over the DV specs), same join.
    from .dv_codec import read_dv_spec

    dv_rows: list[tuple[str, int]] = []
    for p, a in state.adds.items():
        spec = a.get("deletionVector")
        if spec:
            base = os.path.basename(_decode_path(table_path, p))
            dv_rows.extend(
                (base, int(pos)) for pos in read_dv_spec(table_path, spec)
            )

    def _mask(df: DataFrame) -> DataFrame:
        mask = local_df(spark, dv_rows, "__fn string, __ri long")
        return (
            df.withColumn("__fn", F.col("_metadata.file_name"))
            .withColumn("__ri", F.col("_metadata.row_index"))
            .join(F.broadcast(mask), ["__fn", "__ri"], "left_anti")
            .drop("__fn", "__ri")
        )

    return _scan_files(
        spark,
        table_path,
        list(state.adds.values()),
        state.meta,
        mask=_mask if dv_rows else None,
    )


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Change Data Feed read through ``_delta_log`` ONLY — the
    protocol-reader stand-in for an external client's
    ``spark.read.format("delta").option("readChangeFeed", "true")``.

    Per the protocol's CDF rules, a commit that carries ``cdc``
    actions is read EXCLUSIVELY from its change files; a commit with
    only ``dataChange=true`` add actions derives ``insert`` rows from
    the added files; a commit with ``dataChange=true`` removes but no
    cdc actions is not CDF-readable and raises. Partition columns are
    reconstructed from each file's ``partitionValues``. Returns the
    table columns + ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp``."""
    ddir = _delta_dir(table_path)
    versions = _commit_versions(ddir)
    if ending_version is None:
        if not versions:
            raise FileNotFoundError(f"no delta JSON commits at {ddir!r}")
        ending_version = max(versions)

    # metaData as of the range start, replayed like any reader's
    # (metaData always lives in a checkpoint's top-level file, so the
    # checkpoint read is pruned to it). When the log cannot rebuild
    # that version, the range must carry its own metaData (a vacuum
    # re-base commit does); a commit the range needs but the log
    # lacks, or a range starting without metaData, raises below.
    meta = None
    if starting_version > 0:
        try:
            meta = _replay(ddir, starting_version - 1, columns=["metaData"])[1].meta
        except FileNotFoundError:
            pass

    out: DataFrame | None = None
    for v in range(starting_version, ending_version + 1):
        commit = os.path.join(ddir, f"{v:020d}.json")
        if not os.path.exists(commit):
            raise FileNotFoundError(
                f"delta log is missing commit {v} in CDF range "
                f"[{starting_version}, {ending_version}]"
            )
        ts_ms = 0
        cdc_files: list[dict] = []
        add_files: list[dict] = []
        removed = 0
        for action in _commit_actions(commit):
            if "metaData" in action:
                meta = action["metaData"]
            elif "commitInfo" in action:
                ts_ms = action["commitInfo"].get("timestamp", 0)
            elif "cdc" in action:
                cdc_files.append(action["cdc"])
            elif "add" in action and action["add"].get("dataChange", True):
                add_files.append(action["add"])
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                removed += 1
        if meta is None:
            raise ValueError("no metaData action found — not a valid delta log")
        if cdc_files:
            batch = _scan_files(
                spark,
                table_path,
                cdc_files,
                meta,
                extra=(T.StructField("_change_type", T.StringType(), True),),
            )
            change_type = []
        elif removed:
            raise ValueError(
                f"version {v} removed files with dataChange=true but has "
                "no cdc actions — not CDF-readable (table written "
                "without delta.enableChangeDataFeed)"
            )
        elif add_files:
            batch = _scan_files(spark, table_path, add_files, meta)
            change_type = [F.lit("insert").alias("_change_type")]
        else:
            continue
        batch = batch.select(
            "*",
            *change_type,
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
        )
        out = (
            batch
            if out is None
            else out.unionByName(batch, allowMissingColumns=True)
        )
    if out is not None:
        return out
    if meta is None:
        raise ValueError("no metaData action found — not a valid delta log")
    end_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    return empty_df(
        spark,
        T.StructType(
            list(end_schema.fields)
            + [
                T.StructField("_change_type", T.StringType(), True),
                T.StructField("_commit_version", T.LongType(), True),
                T.StructField("_commit_timestamp", T.TimestampType(), True),
            ]
        ),
    )
