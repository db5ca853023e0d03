"""Checkpoint writer: read budget and txn/tombstone parity.

A checkpoint's txn and remove actions are replayed from the previous
checkpoint plus the commits after it. These tests pin that a
checkpoint opens only those commits, and that it carries the same txn
and remove actions as the full-history reconciliation it replaced,
which is kept here as the reference. Where a path was removed more
than once (re-added in between), the full scan wrote a tombstone per
removal; the replay keeps one per path.
"""

import builtins
import json
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.table import delta_log as dl
from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

_COMMIT = "{:020d}.json"


def _rows(spark, n, base):
    return spark.range(base, base + n).withColumn("v", F.col("id") * 3)


def test_checkpoint_opens_only_commits_since_the_last_one(spark, monkeypatch):
    """The cadence checkpoint at version 20 replays checkpoint 10 plus
    commits 11..20: it opens each of those JSONs once and no other,
    and reads no private log entry beyond what a plain commit reads."""
    t = VersionedTable.create(
        spark, temp_table_path("cp-budget"), _rows(spark, 4, 0), delta_mirror=True
    )
    for i in range(1, 19):
        t.append(_rows(spark, 1, 100 * i))
    ddir = os.path.join(t.path, "_delta_log")
    assert os.path.exists(os.path.join(ddir, f"{10:020d}.checkpoint.parquet"))

    opened: list[int] = []
    private: list[str] = []
    real_open = builtins.open

    def counting_open(file, mode="r", *args, **kwargs):
        name = str(file)
        if name.endswith(".json") and not set(mode) & set("wax+"):
            if os.sep + "_delta_log" + os.sep in name:
                opened.append(int(os.path.basename(name).split(".")[0]))
            elif os.sep + "_log" + os.sep in name:
                private.append(os.path.basename(name))
        return real_open(file, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting_open)
    t.append(_rows(spark, 1, 1900))  # v19: a plain commit
    plain = len(private)
    opened.clear()
    private.clear()
    t.append(_rows(spark, 1, 2000))  # v20: commit + sync + checkpoint
    monkeypatch.setattr(builtins, "open", real_open)

    assert os.path.exists(os.path.join(ddir, f"{20:020d}.checkpoint.parquet"))
    assert sorted(opened) == list(range(11, 21)), opened
    assert len(private) <= plain, (plain, private)


# ------------------------------------------------------------------ parity


def _checkpoint_rows(ddir, fn):
    """Every action row of one checkpoint, read straight from parquet:
    all parts of a multi-part set, V2 sidecars resolved."""
    rows = [
        r
        for part in dl._checkpoint_files(ddir, fn)
        for r in pq.read_table(os.path.join(ddir, part)).to_pylist()
    ]
    for r in list(rows):
        if r.get("sidecar"):
            sp = os.path.join(ddir, "_sidecars", r["sidecar"]["path"])
            rows += pq.read_table(sp).to_pylist()
    return rows


def _json_actions(ddir, v):
    with open(os.path.join(ddir, _COMMIT.format(v))) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _full_scan_reference(ddir, version, ts, live_paths):
    """The full-history reconciliation checkpoints used before: txn
    seeded from the newest checkpoint below ``version`` and overlaid
    with EVERY commit JSON on disk up to it; tombstones from every such
    commit, then the prior checkpoint's, inside the retention window
    and not live."""
    cps = {v: fn for v, fn in dl._checkpoint_versions(ddir).items() if v < version}
    prior = _checkpoint_rows(ddir, cps[max(cps)]) if cps else []
    on_disk = [v for v in dl._commit_versions(ddir) if v <= version]
    txn: dict[str, dict] = {}
    for r in prior:
        if r.get("txn"):
            txn[r["txn"]["appId"]] = r["txn"]
    for v in on_disk:
        for a in _json_actions(ddir, v):
            if "txn" in a:
                txn[a["txn"]["appId"]] = a["txn"]
    floor = ts - dl._TOMBSTONE_RETENTION_MS
    removes, seen = [], set()
    for v in on_disk:
        for a in _json_actions(ddir, v):
            rm = a.get("remove")
            if rm and rm["deletionTimestamp"] >= floor and rm["path"] not in live_paths:
                seen.add(rm["path"])
                removes.append(rm)
    for r in prior:
        rm = r.get("remove")
        if (
            rm
            and rm["path"] not in live_paths
            and rm["path"] not in seen
            and (rm["deletionTimestamp"] or 0) >= floor
        ):
            seen.add(rm["path"])
            removes.append(rm)
    tombstones = [
        {
            "path": r["path"],
            "deletionTimestamp": r["deletionTimestamp"],
            "dataChange": False,
        }
        for r in removes
    ]
    return list(txn.values()), tombstones


def _remove_timestamps(ddir, v):
    return {
        a["remove"]["deletionTimestamp"]
        for a in _json_actions(ddir, v)
        if "remove" in a
    }


def _multiset(dicts):
    return Counter(json.dumps(d, sort_keys=True) for d in dicts)


def _assert_parity(t, version):
    """The checkpoint at ``version`` carries exactly the reference's
    txn and remove actions (as multisets). Returns them."""
    ddir = os.path.join(t.path, "_delta_log")
    rows = _checkpoint_rows(ddir, dl._checkpoint_versions(ddir)[version])
    ts = dl._ts_ms(t._read_log_raw(version)["timestamp"])
    live = {r["add"]["path"] for r in rows if r.get("add")}
    ref_txn, ref_rm = _full_scan_reference(ddir, version, ts, live)
    got_txn = [r["txn"] for r in rows if r.get("txn")]
    got_rm = [r["remove"] for r in rows if r.get("remove")]
    assert _multiset(got_txn) == _multiset(ref_txn)
    assert _multiset(got_rm) == _multiset(ref_rm)
    return got_txn, got_rm


_FORMS = [
    pytest.param({}, None, id="classic"),
    pytest.param({}, 3, id="parts3"),
    pytest.param({"checkpoint_policy": "v2"}, None, id="v2"),
]


@pytest.mark.parametrize("create_kw,parts", _FORMS)
def test_checkpoint_txn_and_tombstones_match_full_scan(
    spark, monkeypatch, create_kw, parts
):
    """Two appIds' txn appends, removes inside and outside the
    tombstone window, and a JSON prefix removed by log cleanup: every
    checkpoint agrees with the full-history reconciliation."""
    t = VersionedTable.create(
        spark,
        temp_table_path("cp-parity"),
        _rows(spark, 40, 0).repartition(4),
        delta_mirror=True,
        **create_kw,
    )
    ddir = os.path.join(t.path, "_delta_log")
    t.append(_rows(spark, 5, 1000), txn_app_id="app-a", txn_version=1)  # v1
    t.delete(F.col("id") < 5)  # v2: removes
    t.append(_rows(spark, 5, 2000), txn_app_id="app-b", txn_version=1)  # v3
    t.delete((F.col("id") >= 35) & (F.col("id") < 1000))  # v4: removes
    t.append(_rows(spark, 5, 3000), txn_app_id="app-a", txn_version=2)  # v5
    v = t.checkpoint_mirror(parts=parts)
    txn, removes = _assert_parity(t, v)
    assert {(x["appId"], x["version"]) for x in txn} == {("app-a", 2), ("app-b", 1)}
    assert removes, "fresh removes must be checkpointed"

    # A retention window that ends between the two deletes: only v4's
    # removes stay in the next checkpoint.
    (v2_ts,) = _remove_timestamps(ddir, 2)
    (v4_ts,) = _remove_timestamps(ddir, 4)
    assert v2_ts < v4_ts
    t.append(_rows(spark, 5, 4000))  # v6
    ts = dl._ts_ms(t._read_log_raw(6)["timestamp"])
    monkeypatch.setattr(dl, "_TOMBSTONE_RETENTION_MS", ts - v4_ts)
    v = t.checkpoint_mirror(parts=parts)
    _, removes = _assert_parity(t, v)
    assert removes and {r["deletionTimestamp"] for r in removes} == {v4_ts}

    # Clean up the JSON prefix under the checkpoint, then commit and
    # checkpoint again (the same window: v4's removes have aged out).
    future = int(os.path.getmtime(t.path) * 1000) + 10_000_000
    deleted = t.cleanup_log_mirror(retention_ms=0, now_ms=future)
    assert _COMMIT.format(1) in deleted
    t.append(_rows(spark, 5, 5000), txn_app_id="app-b", txn_version=2)  # v7
    t.delete(F.col("id") == 1000)  # v8
    v = t.checkpoint_mirror(parts=parts)
    txn, removes = _assert_parity(t, v)
    assert {(x["appId"], x["version"]) for x in txn} == {("app-a", 2), ("app-b", 2)}
    (v8_ts,) = _remove_timestamps(ddir, 8)
    assert {r["deletionTimestamp"] for r in removes} == {v8_ts}


@pytest.mark.parametrize("create_kw,parts", _FORMS)
def test_checkpoint_parity_over_vacuum_rebase_gaps(spark, create_kw, parts):
    """A vacuum re-base writes no commit JSON for the versions it
    skips: the re-base checkpoint and the next one still agree with
    the full-history reconciliation."""
    t = VersionedTable.create(
        spark,
        temp_table_path("cp-rebase"),
        _rows(spark, 40, 0).repartition(4),
        **create_kw,
    )
    t.append(_rows(spark, 5, 1000), txn_app_id="app-a", txn_version=1)  # v1
    t.delete(F.col("id") % 2 == 0)  # v2: rewrites every file
    t.append(_rows(spark, 5, 2000), txn_app_id="app-b", txn_version=1)  # v3
    t.vacuum(retain_last=2, min_age_seconds=0)  # v0..v1 unexportable
    t.export_delta_log()
    ddir = os.path.join(t.path, "_delta_log")
    have = dl._commit_versions(ddir)
    rebase = min(have)
    assert rebase > 0 and rebase in dl._checkpoint_versions(ddir)
    txn, _ = _assert_parity(t, rebase)
    assert {x["appId"] for x in txn} >= {"app-a"}
    t.delete(F.col("id") == 1001)
    t.append(_rows(spark, 5, 3000), txn_app_id="app-a", txn_version=2)
    v = t.checkpoint_mirror(parts=parts)
    assert v > rebase + 1
    txn, removes = _assert_parity(t, v)
    assert {(x["appId"], x["version"]) for x in txn} == {("app-a", 2), ("app-b", 1)}
    assert removes


def test_checkpoint_holds_one_tombstone_per_path(spark):
    """A native-DV file is removed and re-added at each DV change, then
    removed for good: the checkpoint carries one tombstone for it, the
    latest, as a checkpoint holds at most one action per path."""
    t = VersionedTable.create(
        spark,
        temp_table_path("cp-onetomb"),
        _rows(spark, 40, 0).coalesce(1),
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("id") == 1)
    t.delete_mor(F.col("id") == 2)
    t.delete(F.col("id") == 3)  # copy-on-write: the file leaves
    v = t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")
    rows = _checkpoint_rows(ddir, dl._checkpoint_versions(ddir)[v])
    paths = [r["remove"]["path"] for r in rows if r.get("remove")]
    assert paths and len(paths) == len(set(paths)), paths
    (last_ts,) = {
        a["remove"]["deletionTimestamp"]
        for a in _json_actions(ddir, v)
        if "remove" in a and a["remove"]["path"] == paths[0]
    }
    assert [
        r["remove"]["deletionTimestamp"] for r in rows if r.get("remove")
    ] == [last_ts]
