"""Identity columns (Delta ``GENERATED ALWAYS AS IDENTITY``).

Reference parity: the reference's table layer
(``reference/.../spark_project.py:26-37``) has no surrogate-key
facility; this is the Delta-protocol feature (identity columns,
writer version 6) re-expressed on the versioned table layer:
collect-free assignment via ``monotonically_increasing_id`` offsets
above a commit-logged high-water mark recovered from footer stats.
"""

import threading

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.table.versioned import (
    IdentityColumnError,
    VersionedTable,
    temp_table_path,
)


def _ids(t):
    return [r[0] for r in t.to_df().select("id").collect()]


def _mk(spark, rows=None, **kw):
    df = spark.createDataFrame(
        rows or [("a", 1), ("b", 2), ("c", 3)], ["name", "v"]
    )
    return VersionedTable.create(
        spark,
        temp_table_path("idcol"),
        df,
        identity={"column": "id", **kw},
    )


def test_create_assigns_unique_ids_above_start(spark):
    t = _mk(spark, start=100, step=1)
    ids = _ids(t)
    assert len(ids) == 3
    assert len(set(ids)) == 3
    assert min(ids) >= 100


def test_append_ids_disjoint_and_above_watermark(spark):
    t = _mk(spark)
    first = set(_ids(t))
    t.append(spark.createDataFrame([("d", 4), ("e", 5)], ["name", "v"]))
    ids = _ids(t)
    assert len(ids) == 5 and len(set(ids)) == 5
    new = set(ids) - first
    assert len(new) == 2
    assert min(new) > max(first)


def test_step_multiplies(spark):
    t = _mk(spark, start=10, step=5)
    ids = _ids(t)
    assert all((i - 10) % 5 == 0 for i in ids)
    assert min(ids) >= 10


def test_explicit_values_refused_everywhere(spark):
    t = _mk(spark)
    with_id = spark.createDataFrame([("x", 9, 999)], ["name", "v", "id"])
    with pytest.raises(IdentityColumnError):
        t.append(with_id)
    with pytest.raises(IdentityColumnError):
        t.merge(with_id, key="name")
    with pytest.raises(IdentityColumnError):
        t.overwrite_where(with_id, F.col("name") == "x")
    with pytest.raises(IdentityColumnError):
        t.overwrite_for_keys(with_id, "name")
    with pytest.raises(IdentityColumnError):
        t.update({"id": F.lit(0)}, F.col("name") == "a")
    with pytest.raises(IdentityColumnError):
        t.update_mor({"id": F.lit(0)}, F.col("name") == "a")
    with pytest.raises(IdentityColumnError):
        VersionedTable.create(
            spark,
            temp_table_path("idcol"),
            with_id,
            identity={"column": "id"},
        )


def test_rename_drop_refused(spark):
    t = _mk(spark)
    with pytest.raises(IdentityColumnError):
        t.rename_column("id", "id2")
    with pytest.raises(IdentityColumnError):
        t.drop_column("id")


def test_delete_never_reuses_ids(spark):
    """High-water mark survives deletes: ids of removed rows are not
    handed out again (the Delta identity invariant)."""
    t = _mk(spark)
    peak = max(_ids(t))
    t.delete(F.lit(True))
    assert _ids(t) == []
    t.append(spark.createDataFrame([("z", 9)], ["name", "v"]))
    assert min(_ids(t)) > peak


def test_restore_keeps_watermark(spark):
    t = _mk(spark)
    peak = max(_ids(t))
    t.append(spark.createDataFrame([("d", 4)], ["name", "v"]))
    peak2 = max(_ids(t))
    t.restore(0)
    t.append(spark.createDataFrame([("e", 5)], ["name", "v"]))
    new = set(_ids(t)) - set(_ids(t)[:3])
    assert max(_ids(t)) > peak2 > peak


def test_merge_matched_keeps_id_insert_assigns(spark):
    t = _mk(spark)
    before = {r["name"]: r["id"] for r in t.to_df().collect()}
    src = spark.createDataFrame([("a", 100), ("d", 400)], ["name", "v"])
    t.merge(src, key="name")
    after = {r["name"]: (r["id"], r["v"]) for r in t.to_df().collect()}
    assert after["a"] == (before["a"], 100)  # matched: id preserved
    assert after["b"][0] == before["b"]
    assert after["d"][1] == 400
    assert after["d"][0] > max(before.values())  # insert: fresh id
    ids = [v[0] for v in after.values()]
    assert len(set(ids)) == len(ids)


def test_merge_cdf_ids_consistent_with_data(spark):
    """The CDC insert leg must carry the SAME assigned ids as the data
    write (assignment happens below the shuffle, so both jobs see one
    deterministic value per row)."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["name", "v"])
    t = VersionedTable.create(
        spark,
        temp_table_path("idcdf"),
        df,
        identity={"column": "id"},
        enable_cdf=True,
    )
    src = spark.createDataFrame([("b", 20), ("c", 30)], ["name", "v"])
    v = t.merge(src, key="name")
    data = {r["name"]: r["id"] for r in t.to_df().collect()}
    chg = t.table_changes(v, v)
    ins = {
        r["name"]: r["id"]
        for r in chg.filter(F.col("_change_type") == "insert").collect()
    }
    post = {
        r["name"]: r["id"]
        for r in chg.filter(
            F.col("_change_type") == "update_postimage"
        ).collect()
    }
    assert ins == {"c": data["c"]}
    assert post == {"b": data["b"]}


def test_overwrite_where_assigns_fresh(spark):
    t = _mk(spark)
    before = set(_ids(t))
    t.overwrite_where(
        spark.createDataFrame([("a", 11)], ["name", "v"]),
        F.col("name") == "a",
    )
    ids = _ids(t)
    assert len(ids) == 3 and len(set(ids)) == 3
    assert len(set(ids) - before) == 1


def test_concurrent_appends_never_collide(spark):
    """Two racing appenders: optimistic retry re-reads the high-water
    mark, so both batches land with disjoint id ranges."""
    t = _mk(spark)
    errs = []

    def add(tag):
        try:
            t.append(
                spark.createDataFrame([(f"{tag}{i}", i) for i in range(4)], ["name", "v"])
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = [threading.Thread(target=add, args=(c,)) for c in "xy"]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    ids = _ids(t)
    assert len(ids) == 11 and len(set(ids)) == 11


def test_mirror_declares_identity(spark):
    import json
    import os

    df = spark.createDataFrame([("a", 1)], ["name", "v"])
    t = VersionedTable.create(
        spark,
        temp_table_path("idmirror"),
        df,
        identity={"column": "id", "start": 7, "step": 2},
        delta_mirror=True,
    )
    t.append(spark.createDataFrame([("b", 2)], ["name", "v"]))
    ddir = os.path.join(t.path, "_delta_log")
    commits = sorted(
        f
        for f in os.listdir(ddir)
        if f.endswith(".json") and not f.startswith(("_", "."))
    )
    actions = [
        json.loads(line)
        for f in commits
        for line in open(os.path.join(ddir, f))
    ]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] >= 6
    # latest metaData action carries the advanced high-water mark
    meta = [a["metaData"] for a in actions if "metaData" in a][-1]
    fld = next(
        f
        for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == "id"
    )
    assert fld["metadata"]["delta.identity.start"] == 7
    assert fld["metadata"]["delta.identity.step"] == 2
    assert fld["metadata"]["delta.identity.allowExplicitInsert"] is False
    assert (
        fld["metadata"]["delta.identity.highWaterMark"]
        == t._read_log(1)["identityHighWaterMark"]
    )

    # protocol reader round-trip still reads the data
    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    got = read_delta_snapshot(spark, t.path)
    assert got.count() == 2

    # the cadence checkpoint at 10 replays the commits' marks
    from delta_lake_play_spark.table import delta_log as dl

    for i in range(9):
        t.append(spark.createDataFrame([(f"c{i}", i)], ["name", "v"]))
    state = dl._LogState()
    for row in dl._checkpoint_actions(ddir, dl._checkpoint_versions(ddir)[10]):
        state.apply(row)
    fld = next(
        f
        for f in json.loads(state.meta["schemaString"])["fields"]
        if f["name"] == "id"
    )
    assert (
        fld["metadata"]["delta.identity.highWaterMark"]
        == t._read_log(10)["identityHighWaterMark"]
    )


def test_mirrored_identity_append_reads_one_entry(spark, monkeypatch):
    """An identity append re-emits metaData every commit; its
    createdTime, column defaults and type changes come from reads the
    commit already made, and the mirror diffs the entries the commit
    holds in memory, so it opens one private entry, the predecessor
    its attempt reads — as many as an unmirrored append."""
    df = spark.createDataFrame([("a", 1)], ["name", "v"])
    t = VersionedTable.create(
        spark,
        temp_table_path("idreads"),
        df,
        identity={"column": "id"},
        delta_mirror=True,
    )
    t.append(df)
    reads = []
    real = VersionedTable._read_log_raw

    def counting(self, version):
        reads.append(version)
        return real(self, version)

    monkeypatch.setattr(VersionedTable, "_read_log_raw", counting)
    for i in range(12):
        t.append(spark.createDataFrame([(f"c{i}", i)], ["name", "v"]))
    assert len(reads) == 1 * 12
