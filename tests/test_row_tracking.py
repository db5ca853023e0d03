"""Row tracking (Delta ``rowTracking`` writer feature): fresh row-id
ranges per added file, a monotone commit-logged high-water mark, and
the mirror's domainMetadata / protocol / add-action layout."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.table.delta_log import (
    DeltaMirrorError,
    read_delta_snapshot,
)
from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path


def _nation(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))


def _spans(table: VersionedTable, version: int):
    files = table._read_log(version)["files"]
    return sorted(
        (f["baseRowId"], f["baseRowId"] + f["num_rows"])
        for f in files
        if f["num_rows"] > 0
    )


def _assert_disjoint(spans):
    for i in range(len(spans) - 1):
        assert spans[i][1] <= spans[i + 1][0], f"overlap {spans[i]}/{spans[i+1]}"


def _mirror_actions(path: str):
    ddir = os.path.join(path, "_delta_log")
    out = {}
    for fn in sorted(os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            with open(os.path.join(ddir, fn)) as fh:
                out[int(fn.split(".")[0])] = [
                    json.loads(line) for line in fh if line.strip()
                ]
    return out


def test_ranges_disjoint_and_hwm_monotone_across_dml(spark, sf_dir):
    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark, temp_table_path("rt-dml"), n, row_tracking=True
    )
    t.append(n.withColumn("n_nationkey", F.col("n_nationkey") + 500))
    t.update({"n_name": F.concat(F.col("n_name"), F.lit("-U"))}, "n_regionkey = 0")
    src = n.withColumn("n_nationkey", F.col("n_nationkey") + 900)
    t.merge(src, key="n_nationkey")
    t.delete("n_regionkey = 2")
    t.optimize_small(min_rows_per_file=10_000)
    prev_hwm = -1
    for v in sorted(t._versions()):
        e = t._read_log_raw(v)
        hwm = int(e["rowIdHighWaterMark"])
        assert hwm >= prev_hwm, f"hwm regressed at v{v}"
        prev_hwm = hwm
        _assert_disjoint(_spans(t, v))
        # every file's range sits at or below the mark
        assert all(hi - 1 <= hwm for _, hi in _spans(t, v))


def test_carried_files_keep_base_row_id(spark, sf_dir):
    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark,
        temp_table_path("rt-carry"),
        n,
        partition_by=["n_regionkey"],
        row_tracking=True,
    )
    v0 = {f["path"]: f["baseRowId"] for f in t._read_log(0)["files"]}
    t.append(n.where("n_regionkey = 0").withColumn("n_nationkey", F.col("n_nationkey") + 500))
    v1 = {f["path"]: f.get("baseRowId") for f in t._read_log(1)["files"]}
    for path, base in v0.items():
        assert v1[path] == base, "carried file's row-id range moved"


def test_rewrite_allocates_fresh_ids_and_advances_mark(spark, sf_dir):
    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark, temp_table_path("rt-rewrite"), n, row_tracking=True
    )
    hwm0 = t.row_id_high_water_mark(0)
    # non-partition-aligned delete rewrites survivors -> fresh ids
    t.delete("n_nationkey % 2 = 0")
    hwm1 = t.row_id_high_water_mark(1)
    survivors = t._read_log_raw(1)["num_rows"]
    assert hwm1 == hwm0 + survivors, "rewrite must take fresh ids above the mark"
    _assert_disjoint(_spans(t, 1))


def test_restore_carries_mark_forward(spark, sf_dir):
    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark, temp_table_path("rt-restore"), n, row_tracking=True
    )
    t.append(n.withColumn("n_nationkey", F.col("n_nationkey") + 500))
    hwm1 = t.row_id_high_water_mark(1)
    t.restore(0)
    assert t.row_id_high_water_mark(2) == hwm1, (
        "RESTORE must not lower the mark — ids are never reused"
    )


def test_mirror_layout_protocol_domain_metadata_and_adds(spark, sf_dir):
    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark,
        temp_table_path("rt-mirror"),
        n,
        partition_by=["n_regionkey"],
        delta_mirror=True,
        row_tracking=True,
    )
    t.append(n.where("n_regionkey = 0").withColumn("n_nationkey", F.col("n_nationkey") + 500))
    t.delete("n_regionkey = 1")  # partition-aligned: removes only
    acts = _mirror_actions(t.path)
    proto = next(a["protocol"] for a in acts[0] if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert "rowTracking" in proto["writerFeatures"]
    assert "domainMetadata" in proto["writerFeatures"]
    meta = next(a["metaData"] for a in acts[0] if "metaData" in a)
    assert meta["configuration"]["delta.enableRowTracking"] == "true"
    # every add carries its range; domainMetadata carries the mark
    for v in (0, 1):
        adds = [a["add"] for a in acts[v] if "add" in a]
        assert adds and all(
            "baseRowId" in a and a["defaultRowCommitVersion"] == v for a in adds
        )
        dm = next(a["domainMetadata"] for a in acts[v] if "domainMetadata" in a)
        assert dm["domain"] == "delta.rowTracking"
        cfg = json.loads(dm["configuration"])
        assert cfg["rowIdHighWaterMark"] == t.row_id_high_water_mark(v)
    # delete changed no ids -> no domainMetadata in that commit
    assert not any("domainMetadata" in a for a in acts[2])
    # protocol replay still matches the private read
    got = read_delta_snapshot(spark, t.path).count()
    assert got == t.to_df().count()


def test_checkpoint_carries_domain_metadata_and_row_ids(spark, sf_dir):
    import pyarrow.parquet as pq

    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark, temp_table_path("rt-ckpt"), n, delta_mirror=True, row_tracking=True
    )
    for i in range(10):  # reach the checkpoint interval
        t.append(
            n.where("n_regionkey = 0").withColumn(
                "n_nationkey", F.col("n_nationkey") + 1000 * (i + 1)
            )
        )
    ddir = os.path.join(t.path, "_delta_log")
    cps = [f for f in os.listdir(ddir) if f.endswith(".checkpoint.parquet")]
    assert cps, "expected a checkpoint after 10 commits"
    tbl = pq.read_table(os.path.join(ddir, sorted(cps)[-1]))
    rows = tbl.to_pylist()
    dm = [r["domainMetadata"] for r in rows if r.get("domainMetadata")]
    assert dm and dm[0]["domain"] == "delta.rowTracking"
    adds = [r["add"] for r in rows if r.get("add")]
    assert adds and all(a["baseRowId"] is not None for a in adds)
    proto = next(r["protocol"] for r in rows if r.get("protocol"))
    assert proto["minWriterVersion"] == 7
    assert "rowTracking" in proto["writerFeatures"]


@pytest.mark.parametrize(
    "mor",
    [
        lambda t: t.delete_mor("n_regionkey = 1"),
        lambda t: t.update_mor({"n_name": F.lit("x")}, "n_regionkey = 1"),
    ],
    ids=["delete_mor", "update_mor"],
)
def test_deletion_vectors_refused_on_mirrored_row_tracking(spark, sf_dir, mor):
    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark, temp_table_path("rt-dv"), n, delta_mirror=True, row_tracking=True
    )
    v0 = t.latest_version()
    with pytest.raises(DeltaMirrorError, match="row-id range"):
        mor(t)
    # The refusal must fire BEFORE the private commit (ADVICE r5): a
    # post-commit raise in sync() would wedge the table — every later
    # commit replays sync, hits the DV version, and raises forever.
    assert t.latest_version() == v0, "refused MoR DML left a commit behind"
    t.append(n.withColumn("n_nationkey", F.col("n_nationkey") + 900))
    assert t.latest_version() == v0 + 1
    assert t.read().count() == 2 * n.count()


def test_ict_and_row_tracking_compose(spark, sf_dir):
    """Both writer-7 features on one table: writerFeatures carries
    rowTracking + domainMetadata + inCommitTimestamp, every commitInfo
    leads with a monotone inCommitTimestamp, and the protocol reader's
    timestamp resolution agrees with the private log's."""
    from delta_lake_play_spark.table.delta_log import (
        _ts_ms,
        resolve_delta_timestamp,
    )

    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark,
        temp_table_path("rt-ict"),
        n,
        delta_mirror=True,
        row_tracking=True,
        in_commit_timestamps=True,
    )
    t.append(n.withColumn("n_nationkey", F.col("n_nationkey") + 500))
    acts = _mirror_actions(t.path)
    proto = next(a["protocol"] for a in acts[0] if "protocol" in a)
    for feat in ("rowTracking", "domainMetadata", "inCommitTimestamp"):
        assert feat in proto["writerFeatures"]
    meta = next(a["metaData"] for a in acts[0] if "metaData" in a)
    assert meta["configuration"]["delta.enableInCommitTimestamps"] == "true"
    prev = -1
    for v in sorted(acts):
        assert "commitInfo" in acts[v][0], "commitInfo must lead the commit"
        ict = acts[v][0]["commitInfo"]["inCommitTimestamp"]
        assert ict == _ts_ms(t._read_log_raw(v)["timestamp"])
        assert ict > prev
        prev = ict
    assert resolve_delta_timestamp(t.path, prev) == max(acts)
    assert resolve_delta_timestamp(t.path, prev - 1) < max(acts)


def test_ict_resolution_refuses_untracked_tables(spark, sf_dir):
    from delta_lake_play_spark.table.delta_log import resolve_delta_timestamp

    n = _nation(spark, sf_dir)
    t = VersionedTable.create(
        spark, temp_table_path("no-ict"), n, delta_mirror=True
    )
    with pytest.raises(DeltaMirrorError, match="inCommitTimestamp"):
        resolve_delta_timestamp(t.path, 10**15)
