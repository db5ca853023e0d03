"""The mirror derives its artifacts from ``_delta_log`` itself.

A checkpoint is the log's replay at its version, the protocol lookup
replays from the newest checkpoint, and ``sync`` exports only the
private versions above the newest one the log holds. These tests pin
the two defects that came from rebuilding from the private log (a
cleaned prefix coming back on the next commit; a protocol lookup
opening every commit below a newer checkpoint), and that the replayed
checkpoints carry what the private-entry rebuild they replaced
carried: that rebuild is kept here as the reference.
"""

import builtins
import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.table import delta_log as dl
from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path


def _rows(spark, n, base):
    return spark.range(base, base + n).withColumn("v", (F.col("id") * 3).cast("long"))


class _Reads:
    """JSON reads of the private log and of ``_delta_log``, by name."""

    def __init__(self, monkeypatch):
        self.private: list[str] = []
        self.delta: list[str] = []
        real_open = builtins.open

        def counting_open(file, mode="r", *args, **kwargs):
            name = str(file)
            if name.endswith(".json") and not set(mode) & set("wax+"):
                if os.sep + "_delta_log" + os.sep in name:
                    self.delta.append(os.path.basename(name))
                elif os.sep + "_log" + os.sep in name:
                    self.private.append(os.path.basename(name))
            return real_open(file, mode, *args, **kwargs)

        monkeypatch.setattr(builtins, "open", counting_open)

    def clear(self):
        self.private.clear()
        self.delta.clear()


def _at_or_below(ddir, version):
    """Commit JSONs and checkpoints at or below ``version``."""
    cps = [v for v in dl._checkpoint_versions(ddir) if v <= version]
    return [v for v in dl._commit_versions(ddir) if v <= version], cps


def test_cleaned_prefix_stays_cleaned(spark, monkeypatch):
    """11 commits with a checkpoint at 10, the data of versions 0..8
    vacuumed and the JSON prefix cleaned: the next ten commits export
    only themselves (no commit JSON comes back, no re-base checkpoint
    lands below 10) and each reads as many private entries as a plain
    commit, the one at 20 writing its cadence checkpoint included."""
    t = VersionedTable.create(
        spark,
        temp_table_path("mr-clean"),
        _rows(spark, 20, 0).repartition(2),
        delta_mirror=True,
    )
    for i in range(1, 8):
        t.append(_rows(spark, 1, 100 * i))
    reads = _Reads(monkeypatch)
    t.append(_rows(spark, 1, 800))  # v8: a plain commit
    plain = len(reads.private)
    t.optimize(target_files=1)  # v9: rewrites every file
    t.append(_rows(spark, 1, 1000))  # v10: cadence checkpoint
    ddir = os.path.join(t.path, "_delta_log")
    assert 10 in dl._checkpoint_versions(ddir)
    t.vacuum(retain_last=2, min_age_seconds=0)  # v0..v8 unexportable
    future = int(os.path.getmtime(t.path) * 1000) + 10_000_000
    deleted = t.cleanup_log_mirror(retention_ms=0, now_ms=future)
    assert f"{10:020d}.json" in deleted
    assert _at_or_below(ddir, 10) == ([], [10])

    for i in range(11, 21):
        reads.clear()
        t.append(_rows(spark, 1, 100 * i))
        assert len(reads.private) <= plain, (i, plain, reads.private)
        assert _at_or_below(ddir, 10) == ([], [10]), i
    assert dl._commit_versions(ddir) == list(range(11, 21))
    assert 20 in dl._checkpoint_versions(ddir)
    got = sorted(tuple(r) for r in dl.read_delta_snapshot(spark, t.path).collect())
    assert got == sorted(tuple(r) for r in t.read().collect())


def test_protocol_lookup_stops_at_newest_checkpoint(spark, monkeypatch):
    """15 commits, a checkpoint at 10 and the protocol only in
    ``0.json``: the lookup finds that protocol through the checkpoint
    and opens no commit JSON at or below it."""
    t = VersionedTable.create(
        spark, temp_table_path("mr-proto"), _rows(spark, 4, 0), delta_mirror=True
    )
    for i in range(1, 15):
        t.append(_rows(spark, 1, 100 * i))
    ddir = os.path.join(t.path, "_delta_log")
    assert sorted(dl._checkpoint_versions(ddir)) == [10]
    declared = [
        v
        for v in dl._commit_versions(ddir)
        if any("protocol" in a for a in dl._commit_actions(
            os.path.join(ddir, f"{v:020d}.json")
        ))
    ]
    assert declared == [0]
    (want,) = [
        a["protocol"]
        for a in dl._commit_actions(os.path.join(ddir, f"{0:020d}.json"))
        if "protocol" in a
    ]
    reads = _Reads(monkeypatch)
    got = dl.latest_mirror_protocol(t)
    assert all(int(n[:20]) > 10 for n in reads.delta), reads.delta
    assert {k: v for k, v in got.items() if v is not None} == want
    assert not reads.private, reads.private


def test_checkpoint_reads_no_private_log(spark, monkeypatch):
    """On a synced mirror, writing a checkpoint (here through a fresh
    handle) reaches none of the private-log readers."""
    t = VersionedTable.create(
        spark,
        temp_table_path("mr-noprivate"),
        _rows(spark, 20, 0).repartition(2),
        delta_mirror=True,
    )
    t.append(_rows(spark, 5, 100))
    t.delete(F.col("id") < 3)

    def refuse(*args, **kwargs):
        raise AssertionError("the checkpoint writer read the private log")

    for name in ("_read_log", "_read_log_raw"):
        monkeypatch.setattr(VersionedTable, name, refuse)
    for name in ("_type_changes", "_column_ids", "_unit_adds"):
        monkeypatch.setattr(dl, name, refuse)
    assert dl.write_checkpoint(VersionedTable(spark, t.path)) == 2
    assert 2 in dl._checkpoint_versions(os.path.join(t.path, "_delta_log"))


def test_checkpoint_checked_against_crc(spark):
    """A replay that disagrees with the version's ``.crc`` raises and
    writes no checkpoint file."""
    t = VersionedTable.create(
        spark, temp_table_path("mr-crc"), _rows(spark, 20, 0), delta_mirror=True
    )
    t.append(_rows(spark, 5, 100))
    ddir = os.path.join(t.path, "_delta_log")
    crc = os.path.join(ddir, f"{1:020d}.crc")
    with open(crc) as fh:
        body = json.load(fh)
    os.remove(crc)
    with open(crc, "w") as fh:
        json.dump({**body, "numFiles": body["numFiles"] + 1}, fh)
    before = sorted(os.listdir(ddir))
    with pytest.raises(dl.DeltaMirrorError, match="checksum mismatch at 1"):
        t.checkpoint_mirror()
    assert sorted(os.listdir(ddir)) == before


# ------------------------------------------------- checkpoint equivalence
#
# Each builder returns the table and, for checkpoints whose protocol the
# reference may not rebuild at the checkpoint's own version, the version
# to rebuild it at.


def _k_identity(spark, path):
    df = spark.createDataFrame([("a", 1)], ["name", "v"])
    t = VersionedTable.create(
        spark, path, df, identity={"column": "id", "start": 7, "step": 2},
        delta_mirror=True,
    )
    for i in range(3):
        t.append(spark.createDataFrame([(f"b{i}", i)], ["name", "v"]))
    t.checkpoint_mirror()
    return t, {}


def _k_row_tracking(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 20, 0).repartition(2), row_tracking=True,
        delta_mirror=True,
    )
    t.append(_rows(spark, 5, 100))
    t.delete(F.col("id") < 3)
    t.update({"v": F.lit(-1).cast("long")}, F.col("id") == 10)
    t.checkpoint_mirror()
    return t, {}


def _k_clustering_dropped(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 20, 0).repartition(2), cluster_by=["v"],
        delta_mirror=True,
    )
    t.append(_rows(spark, 5, 100))
    t.checkpoint_mirror()
    t.set_cluster_by([])  # v2
    t.append(_rows(spark, 5, 200))
    v = t.checkpoint_mirror()
    # Dropping the clustering columns tombstones the domain but, as in
    # Delta, does not drop the writer feature: the log keeps
    # declaring the protocol of the commit that enabled clustering.
    return t, {v: 0}


def _k_column_mapping(spark, path):
    df = _rows(spark, 20, 0).withColumn("w", F.col("id") * 2).withColumn("x", F.lit("s"))
    t = VersionedTable.create(spark, path, df.repartition(2), delta_mirror=True)
    t.rename_column("w", "w2")
    t.drop_column("x")
    t.append(_rows(spark, 5, 100).withColumn("w2", F.col("id")))
    t.checkpoint_mirror()
    return t, {}


def _k_type_widening(spark, path):
    t = VersionedTable.create(
        spark, path, spark.range(0, 20).withColumn("v", F.col("id").cast("int")),
        delta_mirror=True,
    )
    t.merge(
        spark.createDataFrame([(3, 10_000_000_000), (100, 7)], "id long, v long"),
        key="id",
        evolve_schema=True,
    )
    t.checkpoint_mirror()
    return t, {}


def _k_column_defaults(spark, path):
    t = VersionedTable.create(spark, path, _rows(spark, 20, 0), delta_mirror=True)
    t.add_column("src", "string", default="'web'")
    t.append(_rows(spark, 5, 100))
    t.checkpoint_mirror()
    return t, {}


def _k_cdf(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 20, 0).repartition(2), enable_cdf=True,
        delta_mirror=True,
    )
    t.delete(F.col("id") < 3)
    t.merge(_rows(spark, 4, 10), key="id")
    t.checkpoint_mirror()
    return t, {}


def _k_in_commit_timestamps(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 20, 0), in_commit_timestamps=True,
        delta_mirror=True,
    )
    t.append(_rows(spark, 2, 100))
    t.checkpoint_mirror()
    return t, {}


def _k_native_dvs(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 40, 0).repartition(2),
        dv_mirror_policy="native", delta_mirror=True,
    )
    t.delete_mor(F.col("id") == 1)
    t.checkpoint_mirror()
    t.delete_mor(F.col("id") == 2)
    t.delete(F.col("id") == 30)
    t.checkpoint_mirror()
    return t, {}


def _k_materialized_dvs(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 40, 0).repartition(2), delta_mirror=True
    )
    t.delete_mor(F.col("id") % 7 == 0)
    t.checkpoint_mirror()
    t.delete_mor(F.col("id") % 5 == 0)
    t.checkpoint_mirror()
    return t, {}


def _k_constraints_generated(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 20, 0).withColumn("g", F.col("v") + 1),
        constraints={"pos": "v >= 0"}, generated={"g": "v + 1"},
        delta_mirror=True,
    )
    t.append(_rows(spark, 5, 100))
    t.checkpoint_mirror()
    return t, {}


def _k_v2(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 20, 0).repartition(2),
        checkpoint_policy="v2", delta_mirror=True,
    )
    t.append(_rows(spark, 5, 100))
    t.checkpoint_mirror()
    t.delete(F.col("id") == 100)
    t.checkpoint_mirror()
    return t, {}


def _k_parts3(spark, path):
    t = VersionedTable.create(
        spark, path, _rows(spark, 20, 0).repartition(2), delta_mirror=True
    )
    t.append(_rows(spark, 5, 100), txn_app_id="app", txn_version=1)
    t.delete(F.col("id") < 3)
    t.checkpoint_mirror(parts=3)
    return t, {}


def _k_rebase_over_exported_prefix(spark, path):
    t = VersionedTable.create(spark, path, _rows(spark, 20, 0).repartition(2))
    for i in range(1, 6):
        t.append(_rows(spark, 2, 100 * i))
    assert t.export_delta_log() == 5
    t.delete(F.col("id") < 5)  # v6: rewrites some of the CREATE's files
    t.append(_rows(spark, 2, 700))
    t.append(_rows(spark, 2, 800))
    t.optimize(target_files=1)  # v9: rewrites every file
    t.append(_rows(spark, 2, 1000))
    t.vacuum(retain_last=2, min_age_seconds=0)  # v0..v8 unexportable
    t.export_delta_log()
    return t, {}


_KINDS = {
    name[3:]: fn for name, fn in sorted(globals().items()) if name.startswith("_k_")
}


_STAT_KEYS = ("minValues", "maxValues", "nullCount")


def _stat_cols(stats: str) -> set[str]:
    s = json.loads(stats)
    return {c for k in _STAT_KEYS for c in s.get(k, {})}


def _stats_on(stats: str, keep: set[str]) -> str:
    s = json.loads(stats)
    for k in _STAT_KEYS:
        if k in s:
            s[k] = {c: x for c, x in s[k].items() if c in keep}
    return json.dumps(s, sort_keys=True)


def _reference(t, version):
    """The checkpoint content the private-entry rebuild gave: protocol,
    metaData, live domains and adds (``modificationTime`` dropped)."""
    entry = t._read_log(version)
    ts = dl._ts_ms(entry["timestamp"])
    part_cols = t.partition_columns()
    domains = []
    if "rowIdHighWaterMark" in entry:
        domains.append(dl._row_tracking_domain(entry)["domainMetadata"])
    if entry.get("clusterBy"):
        domains.append(dl._clustering_domain(entry)["domainMetadata"])
    adds = [
        a["add"]
        for f in entry["files"]
        for a in dl._unit_adds(t, f, part_cols, ts, False, entry.get("columnMap"))
    ]
    return (
        dl._protocol_action(t, entry)["protocol"],
        dl._meta_action(t, entry)["metaData"],
        domains,
        adds,
    )


def _by_path(adds):
    return {a["path"]: {k: v for k, v in a.items() if k != "modificationTime"} for a in adds}


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_checkpoint_matches_private_rebuild(spark, kind):
    """Every checkpoint of the kind carries the protocol, metaData,
    domains and live adds the private-entry rebuild gives at its
    version. Add stats may also name a dropped column's retired
    physical name: the add keeps the stats of its own commit."""
    t, protocol_at = _KINDS[kind](spark, temp_table_path(f"mr-{kind}"))
    ddir = os.path.join(t.path, "_delta_log")
    cps = dl._checkpoint_versions(ddir)
    assert cps
    for v, fn in sorted(cps.items()):
        got = dl._LogState()
        for row in dl._checkpoint_actions(ddir, fn):
            got.apply(row)
        protocol, meta, domains, adds = _reference(t, v)
        if v in protocol_at:
            protocol = _reference(t, protocol_at[v])[0]
        assert got.protocol == protocol, v
        assert got.meta == meta, v
        assert Counter(
            json.dumps(d, sort_keys=True) for d in got.domains.values()
        ) == Counter(json.dumps(d, sort_keys=True) for d in domains), v
        want = _by_path(adds)
        have = _by_path(got.adds.values())
        assert set(have) == set(want), v
        retired = set(t._read_log(v).get("retiredPhysical") or [])
        for path, a in want.items():
            b = have[path]
            if "stats" in a:
                cols = _stat_cols(a["stats"])
                assert _stat_cols(b["stats"]) - cols <= retired, (v, path)
                a = {**a, "stats": _stats_on(a["stats"], cols)}
                b = {**b, "stats": _stats_on(b["stats"], cols)}
            assert b == a, (v, path)
    if kind == "rebase_over_exported_prefix":
        rebase = min(v for v in cps if v > 5)
        assert dl._commit_versions(ddir) == [0, 1, 2, 3, 4, 5, rebase, *range(rebase + 1, 11)]
        got = sorted(tuple(r) for r in dl.read_delta_snapshot(spark, t.path).collect())
        assert got == sorted(tuple(r) for r in t.read().collect())
