"""Open Delta protocol mirror (`table/delta_log.py`).

No external Delta reader is installable in this environment (DuckDB's
delta extension needs a download; delta-spark is env-blocked — SURVEY
§7), so these tests validate the emitted log two independent ways:
(1) structural validation of every action against the protocol's
required fields, and (2) snapshot round-trips through the module's
own protocol READER, which replays checkpoint + JSON actions and
never touches the private log.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.table.delta_log import (
    DeltaMirrorError,
    read_delta_snapshot,
    sync,
)
from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path


def _mk(spark, prefix, **kw):
    df = spark.range(0, 200).withColumn("v", (F.col("id") * 3).cast("long"))
    return VersionedTable.create(
        spark, temp_table_path(prefix), df.repartition(4), delta_mirror=True, **kw
    )


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def _actions(t, version):
    with open(
        os.path.join(t.path, "_delta_log", f"{version:020d}.json")
    ) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def test_v0_actions_are_protocol_shaped(spark):
    t = _mk(spark, "dl-shape")
    acts = _actions(t, 0)
    kinds = [next(iter(a)) for a in acts]
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    # required metaData fields per PROTOCOL.md
    for k in ("id", "format", "schemaString", "partitionColumns", "configuration"):
        assert k in meta, k
    assert meta["format"]["provider"] == "parquet"
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    assert [f.name for f in schema.fields] == ["id", "v"]
    for a in acts:
        if "add" not in a:
            continue
        add = a["add"]
        for k in ("path", "partitionValues", "size", "modificationTime", "dataChange"):
            assert k in add, k
        assert add["size"] > 0 and add["dataChange"] is True
        st = json.loads(add["stats"])
        assert st["numRecords"] > 0
        # the referenced file exists and is the table's own parquet
        assert os.path.exists(os.path.join(t.path, add["path"]))


def test_snapshot_roundtrip_through_protocol_reader(spark):
    t = _mk(spark, "dl-rt")
    t.append(spark.range(200, 230).withColumn("v", (F.col("id") * 3).cast("long")))
    t.delete(F.col("id") % 7 == 0)
    t.update({"v": F.lit(-5).cast("long")}, F.col("id") == 11)
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    # delete emitted remove actions for the rewritten files
    kinds = [next(iter(a)) for a in _actions(t, 2)]
    assert "remove" in kinds and "add" in kinds
    # time travel: every historical version reconstructs exactly
    for v in range(t.latest_version() + 1):
        assert _canon(read_delta_snapshot(spark, t.path, version=v)) == _canon(
            t.read(version=v)
        )


def test_checkpoint_written_and_used(spark):
    t = _mk(spark, "dl-cp")
    for i in range(12):
        t.append(
            spark.range(1000 + i, 1001 + i).withColumn("v", F.lit(0).cast("long"))
        )
    ddir = os.path.join(t.path, "_delta_log")
    assert os.path.exists(os.path.join(ddir, f"{10:020d}.checkpoint.parquet"))
    lc = json.load(open(os.path.join(ddir, "_last_checkpoint")))
    assert lc["version"] == 10 and lc["size"] > 2
    # reader must reconstruct FROM the checkpoint: remove the JSON
    # prefix it should no longer need
    for v in range(0, 10):
        os.unlink(os.path.join(ddir, f"{v:020d}.json"))
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_partitioned_partition_values(spark):
    df = spark.range(0, 300).select(
        "id",
        (F.col("id") % 3).cast("int").alias("bucket"),
        (F.col("id") * 2).alias("v"),
    )
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-part"),
        df,
        partition_by=["bucket"],
        delta_mirror=True,
    )
    t.delete(F.col("bucket") == 1)
    acts = _actions(t, 0)
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["partitionColumns"] == ["bucket"]
    for a in acts:
        if "add" in a:
            assert set(a["add"]["partitionValues"]) == {"bucket"}
            assert a["add"]["partitionValues"]["bucket"] in {"0", "1", "2"}
    got = read_delta_snapshot(spark, t.path)
    assert dict(got.dtypes)["bucket"] == "int"  # reconstructed + cast
    assert _canon(got.select("id", "bucket", "v")) == _canon(
        t.to_df().select("id", "bucket", "v")
    )


def test_sync_is_self_healing_and_deterministic(spark):
    t = _mk(spark, "dl-heal")
    t.append(spark.range(200, 210).withColumn("v", F.lit(1).cast("long")))
    p = os.path.join(t.path, "_delta_log", f"{1:020d}.json")
    original = open(p).read()
    os.unlink(p)  # simulate a crash between commit and mirror write
    sync(t)
    assert open(p).read() == original  # byte-identical backfill
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_mirrored_mor_materializes_and_replays(spark):
    """delete_mor on a mirrored table auto-materializes deletion
    vectors on the mirror side: every version — across delete_mor →
    growing DVs → optimize → restore — replays exactly through the
    protocol reader, and the mirror references only real protocol
    (1, 2) parquet (no sidecars)."""
    t = _mk(spark, "dl-mor")
    t.delete_mor(F.col("id") % 7 == 0)  # v1: masks rows in every file
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    t.delete_mor(F.col("id") % 5 == 0)  # v2: DVs grow on the same files
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    t.append(spark.range(500, 520).withColumn("v", F.lit(9).cast("long")))  # v3
    t.optimize()  # v4: hardens DVs into plain files
    t.restore(2)  # v5: back to the masked state
    for v in range(t.latest_version() + 1):
        assert _canon(read_delta_snapshot(spark, t.path, version=v)) == _canon(
            t.read(version=v)
        ), f"version {v}"
    # mirror adds reference existing parquet, never DV sidecars
    for v in range(t.latest_version() + 1):
        for a in _actions(t, v):
            if "add" in a:
                p = os.path.join(t.path, a["add"]["path"])
                assert os.path.exists(p), p
                assert "dv-" not in a["add"]["path"]
    # materialized artifacts are shared across versions with the same
    # DV state (fingerprint-keyed, rewritten once)
    mat = os.path.join(t.path, "_dv_materialized")
    assert os.path.isdir(mat) and len(os.listdir(mat)) > 0


def test_unmirrored_mor_export_needs_opt_in(spark):
    """One-shot export refuses DV snapshots unless materialize_dvs."""
    t2 = VersionedTable.create(
        spark, temp_table_path("dl-mor2"), spark.range(10).withColumn("v", F.col("id"))
    )
    t2.delete_mor(F.col("id") == 3)
    assert t2.to_df().count() == 9
    with pytest.raises(DeltaMirrorError, match="materialize_dvs"):
        t2.export_delta_log()
    t2.export_delta_log(materialize_dvs=True)
    assert _canon(read_delta_snapshot(spark, t2.path)) == _canon(t2.to_df())


def test_vacuumed_history_export_rebases_with_checkpoint(spark):
    """Exporting a table whose old versions were vacuumed must not
    crash on missing files OR leave a stale-latest log: the
    unexportable prefix is skipped behind a full-snapshot re-base +
    checkpoint at the oldest fully-present version."""
    df = spark.range(0, 200).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(spark, temp_table_path("dl-vac"), df.repartition(4))
    t.delete(F.col("id") % 2 == 0)  # rewrites every file
    t.append(spark.range(1000, 1010).withColumn("v", F.lit(1).cast("long")))
    t.vacuum(retain_last=2, min_age_seconds=0)  # v0's files reclaimed
    latest = t.export_delta_log()
    assert latest == 2
    ddir = os.path.join(t.path, "_delta_log")
    assert not os.path.exists(os.path.join(ddir, f"{0:020d}.json"))
    assert os.path.exists(os.path.join(ddir, f"{1:020d}.json"))
    assert os.path.exists(os.path.join(ddir, f"{1:020d}.checkpoint.parquet"))
    # latest reads exactly; the vacuumed version raises, not stale data
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    assert _canon(read_delta_snapshot(spark, t.path, version=1)) == _canon(
        t.read(version=1)
    )
    with pytest.raises(FileNotFoundError):
        read_delta_snapshot(spark, t.path, version=0)


def test_vacuumed_head_refused_before_writing(spark):
    """If the LATEST snapshot itself is missing files the export must
    refuse up front — a mirror of an unreadable HEAD is a lie."""
    df = spark.range(0, 50).withColumn("v", F.col("id"))
    t = VersionedTable.create(spark, temp_table_path("dl-vachead"), df)
    victim = t._abs(t._read_log(0)["files"][0]["path"])
    os.remove(victim)
    with pytest.raises(DeltaMirrorError, match="version 0 is missing"):
        t.export_delta_log()
    assert not os.listdir(os.path.join(t.path, "_delta_log"))


def test_optimize_mirrors_with_datachange_false(spark):
    """OPTIMIZE rearranges data without changing it: the protocol
    requires dataChange=false so external streaming/CDF consumers do
    not re-process compacted files as new rows."""
    t = _mk(spark, "dl-opt")
    for i in range(3):
        t.append(
            spark.range(300 + i, 301 + i).withColumn("v", F.lit(0).cast("long"))
        )
    t.optimize()
    acts = _actions(t, t.latest_version())
    adds = [a["add"] for a in acts if "add" in a]
    removes = [a["remove"] for a in acts if "remove" in a]
    assert adds and removes
    assert all(a["dataChange"] is False for a in adds)
    assert all(r["dataChange"] is False for r in removes)
    # ...while a real DELETE keeps dataChange=true
    t.delete(F.col("id") == 0)
    acts = _actions(t, t.latest_version())
    assert all(
        a[k]["dataChange"] is True
        for a in acts
        for k in ("add", "remove")
        if k in a
    )
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_checkpoint_carries_remove_tombstones(spark):
    """PROTOCOL.md: un-expired remove tombstones persist in
    checkpoints (until deletedFileRetentionDuration) so external
    VACUUM / incremental readers can track recently removed files."""
    import pyarrow.parquet as pq

    t = _mk(spark, "dl-tomb")
    t.delete(F.col("id") % 3 == 0)  # v1: removes + rewrites
    for i in range(9):  # v2..v10 — checkpoint lands at v10
        t.append(
            spark.range(700 + i, 701 + i).withColumn("v", F.lit(0).cast("long"))
        )
    cp = os.path.join(t.path, "_delta_log", f"{10:020d}.checkpoint.parquet")
    rows = pq.read_table(cp).to_pylist()
    tombs = [r["remove"] for r in rows if r.get("remove")]
    assert tombs, "fresh removes must be checkpointed as tombstones"
    assert all(r["dataChange"] is False for r in tombs)
    live = {r["add"]["path"] for r in rows if r.get("add")}
    assert not live & {r["path"] for r in tombs}
    # tombstones don't confuse the reader
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_reader_survives_fully_cleaned_json_prefix(spark):
    """A log whose JSON commits were ALL cleaned up past a checkpoint
    is still readable (version=None falls back to the checkpoint
    instead of IndexError)."""
    t = _mk(spark, "dl-clean")
    for i in range(10):
        t.append(
            spark.range(800 + i, 801 + i).withColumn("v", F.lit(0).cast("long"))
        )
    ddir = os.path.join(t.path, "_delta_log")
    expected = _canon(t.read(version=10))
    for v in range(0, 11):
        os.unlink(os.path.join(ddir, f"{v:020d}.json"))
    assert _canon(read_delta_snapshot(spark, t.path)) == expected
    assert _canon(read_delta_snapshot(spark, t.path, version=10)) == expected
    with pytest.raises(FileNotFoundError, match="not in log"):
        read_delta_snapshot(spark, t.path, version=3)


def test_schema_evolution_emits_metadata_action(spark):
    t = _mk(spark, "dl-evolve")
    src = spark.createDataFrame([(1, 7, "x")], "id long, v long, tag string")
    t.merge(src, key="id", evolve_schema=True)
    acts = _actions(t, 1)
    metas = [a["metaData"] for a in acts if "metaData" in a]
    assert metas, "widening/evolving merge must re-emit metaData"
    cols = [
        f["name"] for f in json.loads(metas[0]["schemaString"])["fields"]
    ]
    assert cols == ["id", "v", "tag"]
    got = read_delta_snapshot(spark, t.path)
    assert _canon(got) == _canon(t.to_df())
    assert got.where("tag = 'x'").count() == 1


def test_column_defaults_feature_declared_and_persists(spark):
    """ADD COLUMN DEFAULT upgrades the mirror protocol with the
    writer-only allowColumnDefaults feature (no reader feature), the
    expression rides as CURRENT_DEFAULT field metadata, both survive
    checkpoint + JSON cleanup, and replay returns the write-time
    materialized values."""
    from delta_lake_play_spark.table.delta_log import latest_mirror_protocol

    t = VersionedTable.create(
        spark,
        temp_table_path("dl-coldef"),
        spark.range(0, 20).withColumn("v", F.lit(1).cast("long")),
        delta_mirror=True,
    )
    t.add_column("src", "string", default="'web'")
    t.append(spark.range(100, 110).withColumn("v", F.lit(2).cast("long")))

    acts = _actions(t, 1)
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos and "allowColumnDefaults" in protos[0]["writerFeatures"]
    assert "readerFeatures" not in protos[0]  # writer-only feature
    metas = [a["metaData"] for a in acts if "metaData" in a]
    fld = next(
        f
        for f in json.loads(metas[0]["schemaString"])["fields"]
        if f["name"] == "src"
    )
    assert fld["metadata"]["CURRENT_DEFAULT"] == "'web'"

    t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and fn[:20].isdigit():
            os.remove(os.path.join(ddir, fn))
    p = latest_mirror_protocol(t)
    assert "allowColumnDefaults" in p["writerFeatures"]
    got = read_delta_snapshot(spark, t.path)
    vals = {r["id"]: r["src"] for r in got.collect()}
    assert vals[5] is None and vals[105] == "web"
    assert _canon(got) == _canon(t.to_df())


def test_backfill_defaults_are_as_of_version(spark):
    """Historical metaData/protocol actions derive columnDefaults
    AS-OF their own version (ADVICE r9): a table mirrored only AFTER
    an ADD COLUMN ... DEFAULT must not stamp allowColumnDefaults or
    CURRENT_DEFAULT onto backfilled commits that predate the default
    — the same per-version fidelity _type_changes already has."""
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-coldef-asof"),
        spark.range(0, 20).withColumn("v", F.lit(1).cast("long")),
    )  # NOT mirrored yet
    t.append(spark.range(100, 110).withColumn("v", F.lit(2).cast("long")))
    t.add_column("src", "string", default="'web'")  # v2
    sync(t)  # backfill export of v0..v2 in one pass

    v0 = _actions(t, 0)
    proto0 = next(a["protocol"] for a in v0 if "protocol" in a)
    assert "allowColumnDefaults" not in proto0.get("writerFeatures", [])
    meta0 = next(a["metaData"] for a in v0 if "metaData" in a)
    assert "CURRENT_DEFAULT" not in meta0["schemaString"]

    v2 = _actions(t, 2)
    proto2 = next(a["protocol"] for a in v2 if "protocol" in a)
    assert "allowColumnDefaults" in proto2["writerFeatures"]
    fld = next(
        f
        for f in json.loads(
            next(a["metaData"] for a in v2 if "metaData" in a)["schemaString"]
        )["fields"]
        if f["name"] == "src"
    )
    assert fld["metadata"]["CURRENT_DEFAULT"] == "'web'"
    got = read_delta_snapshot(spark, t.path)
    assert _canon(got) == _canon(t.to_df())


def test_restore_defaults_only_change_reemits_metadata(spark):
    """A RESTORE that changes the EFFECTIVE defaults without changing
    the schema shape must re-emit metaData (self-review r10: the
    emit_meta trigger only watched schema/columnMap, so the mirror's
    CURRENT_DEFAULT went stale while the private table changed fill
    behavior — silent private/mirror divergence)."""
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-coldef-restore"),
        spark.range(0, 10).withColumn("v", F.lit(1).cast("long")),
        delta_mirror=True,
    )
    t.add_column("src", "string", default="'web'")  # v1
    t.restore(version=0)  # v2: defaults reset to {}
    t.add_column("src", "string")  # v3: same shape as v1, NO default
    t.restore(version=1)  # v4: same shape as v3, default IS back

    # v4 changed nothing about the schema shape, only the defaults —
    # metaData must still re-emit, with CURRENT_DEFAULT restored
    v4 = _actions(t, 4)
    metas = [a["metaData"] for a in v4 if "metaData" in a]
    assert metas, "defaults-only change must re-emit metaData"
    fld = next(
        f
        for f in json.loads(metas[0]["schemaString"])["fields"]
        if f["name"] == "src"
    )
    assert fld["metadata"]["CURRENT_DEFAULT"] == "'web'"

    # and the reset at v2 must also have re-emitted (ghost default
    # would otherwise live in the mirror forever)
    v2 = _actions(t, 2)
    metas2 = [a["metaData"] for a in v2 if "metaData" in a]
    assert metas2, "defaults reset must re-emit metaData"
    assert "CURRENT_DEFAULT" not in metas2[0]["schemaString"]
    got = read_delta_snapshot(spark, t.path)
    assert _canon(got) == _canon(t.to_df())


def test_type_widening_feature_declared_and_replays(spark):
    """A widening merge upgrades the mirror protocol IN the widening
    commit — typeWidening in BOTH feature lists — and records the
    change history as delta.typeChanges field metadata; both survive
    checkpoint + JSON cleanup; and the widened table (carried files
    keep the narrower physical type) replays identically through the
    module's protocol reader AND the independent DuckDB-SQL reader."""
    import duckdb
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    from delta_lake_play_spark.table.delta_log import latest_mirror_protocol

    t = VersionedTable.create(
        spark,
        temp_table_path("dl-widen"),
        spark.range(0, 60).withColumn("v", F.col("id").cast("int")),
        delta_mirror=True,
    )
    src = spark.createDataFrame(
        [(3, 10_000_000_000), (100, 7)], "id long, v long"
    )
    t.merge(src, key="id", evolve_schema=True)  # widens v: int -> long

    acts = _actions(t, 1)
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos, "the widening commit must upgrade the protocol"
    assert "typeWidening" in protos[0]["writerFeatures"]
    assert "typeWidening" in protos[0]["readerFeatures"]
    metas = [a["metaData"] for a in acts if "metaData" in a]
    vf = next(
        f
        for f in json.loads(metas[0]["schemaString"])["fields"]
        if f["name"] == "v"
    )
    assert vf["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]

    # carried v0 files keep their narrower physical type on disk
    ddir = os.path.join(t.path, "_delta_log")
    entry = t._read_log(1)
    phys_types = {
        str(
            pq.read_schema(
                p if p.startswith("/") else os.path.join(t.path, p)
            ).field("v").type
        )
        for p in (f["path"] for f in entry["files"])
    }
    assert phys_types == {"int32", "int64"}

    # checkpoint + JSON cleanup: feature + typeChanges must persist
    t.checkpoint_mirror()
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and fn[:20].isdigit():
            os.remove(os.path.join(ddir, fn))
    p = latest_mirror_protocol(t)
    assert "typeWidening" in p["writerFeatures"]
    assert "typeWidening" in (p.get("readerFeatures") or [])
    got = read_delta_snapshot(spark, t.path)
    assert dict(got.dtypes)["v"] == "bigint"
    assert _canon(got) == _canon(t.to_df())
    assert (3, 10_000_000_000) in _canon(got)

    # independent DuckDB-SQL reader: reconcile the checkpoint's live
    # adds, then read the mixed-physical-type files under the declared
    # (widened) schema
    cp = [fn for fn in os.listdir(ddir) if fn.endswith(".checkpoint.parquet")]
    assert len(cp) == 1
    con = duckdb.connect()
    files = con.execute(
        f"""
        SELECT add.path FROM read_parquet('{os.path.join(ddir, cp[0])}')
        WHERE add IS NOT NULL
        """
    ).fetchall()
    paths = [os.path.join(t.path, unquote(p)) for (p,) in files]
    assert paths
    duck_rows = sorted(
        con.execute(
            "SELECT id, CAST(v AS BIGINT) AS v "
            "FROM read_parquet($paths, union_by_name=true)",
            {"paths": paths},
        ).fetchall()
    )
    con.close()
    assert duck_rows == _canon(t.to_df())


def test_type_changes_survive_rename_and_die_with_drop(spark):
    """delta.typeChanges tracks the column's PHYSICAL identity: a
    widened column RENAMED keeps its change history under the new
    logical name (and the protocol keeps declaring typeWidening); a
    widened column DROPPED stops declaring both."""
    from delta_lake_play_spark.table.delta_log import latest_mirror_protocol

    t = VersionedTable.create(
        spark,
        temp_table_path("dl-widen-rn"),
        spark.range(0, 30).withColumn("iv", F.col("id").cast("int")),
        delta_mirror=True,
    )
    src = spark.createDataFrame([(1, 9_000_000_000)], "id long, iv long")
    t.merge(src, key="id", evolve_schema=True)        # v1: widens iv
    t.rename_column("iv", "iv2")                      # v2

    acts = _actions(t, 2)
    metas = [a["metaData"] for a in acts if "metaData" in a]
    assert metas, "rename re-emits metaData"
    f2 = next(
        f
        for f in json.loads(metas[0]["schemaString"])["fields"]
        if f["name"] == "iv2"
    )
    assert f2["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]
    p = latest_mirror_protocol(t)
    assert "typeWidening" in p["writerFeatures"]
    got = read_delta_snapshot(spark, t.path)
    assert (1, 9_000_000_000) in _canon(got)

    # dropping the widened column retires its physical identity: the
    # next metaData carries no typeChanges and the protocol emitted
    # for later full-snapshot exports stops declaring the feature
    t.drop_column("iv2")                              # v3
    acts3 = _actions(t, 3)
    metas3 = [a["metaData"] for a in acts3 if "metaData" in a]
    assert metas3
    assert all(
        "delta.typeChanges" not in (f.get("metadata") or {})
        for f in json.loads(metas3[0]["schemaString"])["fields"]
    )
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_export_delta_log_on_unmirrored_table(spark):
    """A table created WITHOUT delta_mirror can still be exported
    wholesale afterwards, and extended incrementally."""
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-export"),
        spark.range(0, 50).withColumn("v", F.col("id") * 2),
    )
    t.delete(F.col("id") < 5)
    assert t.export_delta_log() == 1
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    t.append(spark.range(100, 110).withColumn("v", F.col("id") * 2))
    assert t.export_delta_log() == 2  # extends, does not rewrite
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_mirror_with_manifest_spilled_commits(spark):
    """Commits past manifest_inline_max spill their file list to a
    parquet sidecar; the mirror must resolve the manifest and emit
    one add per file all the same (the 100 TB commit shape)."""
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-manifest"),
        spark.range(0, 400).withColumn("v", F.col("id") * 2).repartition(6),
        delta_mirror=True,
    )
    t.manifest_inline_max = 8
    t.append(
        spark.range(400, 1000).withColumn("v", F.col("id") * 2).repartition(12)
    )
    raw = json.load(
        open(os.path.join(t.path, "_log", f"{1:020d}.json"))
    )
    assert "filesManifest" in raw and "files" not in raw  # genuinely spilled
    adds = [a for a in _actions(t, 1) if "add" in a]
    assert len(adds) == 12
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_random_mirrored_sequences_replay_exactly(spark):
    """Property-style: a random-ish MERGE/DELETE/UPDATE/APPEND/RESTORE/
    OPTIMIZE sequence on a mirrored table; after EVERY commit the
    protocol reader must reproduce the model, and at the end every
    historical version must replay exactly."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("firstname", T.StringType(), False),
            T.StructField("lastname", T.StringType(), False),
        ]
    )
    model = {1: ("James", "Bond"), 2: ("Alice", "Rogers")}
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-prop"),
        spark.createDataFrame([(k, *v) for k, v in model.items()], schema),
        delta_mirror=True,
    )
    states = {0: dict(model)}
    next_id = 100
    seq = [(0, 7), (3, 1), (1, 2), (0, 9), (2, 5), (4, 1), (6, 0), (3, 4), (1, 0)]
    for op_code, seed in seq:
        ids = sorted(model)
        if op_code == 0:
            rows = [(next_id, f"n{seed}", "New")]
            if ids:
                rows.append((ids[seed % len(ids)], f"u{seed}", "Merged"))
            t.merge(spark.createDataFrame(rows, schema), key="id")
            for rid, fn, ln in rows:
                model[rid] = (fn, ln)
            next_id += 1
        elif op_code == 1 and ids:
            victims = ids[: (seed % len(ids)) + 1]
            t.delete(F.col("id").isin(victims))
            for v in victims:
                del model[v]
        elif op_code == 2 and ids:
            pick = ids[seed % len(ids)]
            t.update({"lastname": F.lit(f"upd{seed}")}, F.col("id") == pick)
            model[pick] = (model[pick][0], f"upd{seed}")
        elif op_code == 3:
            row = (next_id, f"a{seed}", "Appended")
            t.append(spark.createDataFrame([row], schema))
            model[row[0]] = row[1:]
            next_id += 1
        elif op_code == 4:
            v = seed % (t.latest_version() + 1)
            t.restore(v)
            model = dict(states[v])
        else:
            t.optimize(target_files=2, cluster_by=["id"])
        states[t.latest_version()] = dict(model)
        got = {
            r.id: (r.firstname, r.lastname)
            for r in read_delta_snapshot(spark, t.path).collect()
        }
        assert got == model, f"mirror diverged after op {op_code}"
    for v, expected in states.items():
        got = {
            r.id: (r.firstname, r.lastname)
            for r in read_delta_snapshot(spark, t.path, version=v).collect()
        }
        assert got == expected, f"mirrored version {v} replays wrong"


def test_mirror_carries_constraints_and_generation_expressions(spark, sf_dir):
    """CHECK constraints ride in metaData.configuration
    (delta.constraints.<name>, writer >= 3) and generated columns as
    delta.generationExpression field metadata (writer >= 4), so
    external writers enforce/recompute them."""
    import json
    import os

    from delta_lake_play_spark.table.delta_log import read_delta_snapshot
    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    t = VersionedTable.create(
        spark,
        temp_table_path("meta-mirror"),
        n,
        constraints={"key_nonneg": "n_nationkey >= 0"},
        generated={"region_tag": "concat('R', CAST(n_regionkey AS STRING))"},
        delta_mirror=True,
    )
    ddir = os.path.join(t.path, "_delta_log")
    with open(os.path.join(ddir, f"{0:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] >= 4
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["configuration"]["delta.constraints.key_nonneg"] == "n_nationkey >= 0"
    fields = {
        f["name"]: f for f in json.loads(meta["schemaString"])["fields"]
    }
    assert (
        fields["region_tag"]["metadata"]["delta.generationExpression"]
        == "concat('R', CAST(n_regionkey AS STRING))"
    )
    assert read_delta_snapshot(spark, t.path).count() == t.to_df().count()


# ---------------------------------------------------------------- v2 checkpoints


def _v2_cp_files(t):
    ddir = os.path.join(t.path, "_delta_log")
    return [
        fn
        for fn in os.listdir(ddir)
        if ".checkpoint." in fn and not fn.endswith(".checkpoint.parquet")
    ]


def test_v2_checkpoint_manifest_and_sidecars(spark, monkeypatch):
    """V2 policy: uuid-named manifest with checkpointMetadata +
    sidecar actions and ZERO file actions; add actions shard across
    >1 sidecar when they exceed the per-sidecar cap; the protocol
    reader reconstructs the snapshot from manifest + sidecars alone
    after the JSON prefix is deleted."""
    import pyarrow.parquet as pq

    from delta_lake_play_spark.table import delta_log as DL

    monkeypatch.setattr(DL, "_SIDECAR_ACTIONS", 2)
    t = _mk(spark, "dl-v2", checkpoint_policy="v2")  # 4 files at v0
    t.append(
        spark.range(200, 300).withColumn("v", (F.col("id") * 3).cast("long"))
    )
    expected = _canon(t.read())
    v = t.checkpoint_mirror()
    cps = _v2_cp_files(t)
    assert len(cps) == 1, cps
    ddir = os.path.join(t.path, "_delta_log")
    rows = pq.read_table(os.path.join(ddir, cps[0])).to_pylist()
    assert sum(1 for r in rows if r.get("add") or r.get("remove")) == 0
    cpmeta = [r["checkpointMetadata"] for r in rows if r.get("checkpointMetadata")]
    assert cpmeta and cpmeta[0]["version"] == v
    sidecars = [r["sidecar"] for r in rows if r.get("sidecar")]
    n_files = len(t._read_log(v)["files"])
    assert n_files > 2  # the fixture must actually exercise sharding
    # Incremental sharding: actions hash into a power-of-two bucket
    # count sized to the per-sidecar target, so the shard count is
    # the number of NON-EMPTY buckets (>1 proves multi-sidecar
    # resolution; <= n_buckets pins the sizing math).
    need = -(-n_files // 2)
    n_buckets = 1 << (need - 1).bit_length()
    assert 1 < len(sidecars) <= n_buckets, (n_files, len(sidecars), n_buckets)
    for s in sidecars:
        p = os.path.join(ddir, "_sidecars", s["path"])
        assert os.path.exists(p) and s["sizeInBytes"] == os.path.getsize(p)
    proto = next(r["protocol"] for r in rows if r.get("protocol"))
    assert proto["minReaderVersion"] == 3
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            os.remove(os.path.join(ddir, fn))
    got = read_delta_snapshot(spark, t.path)
    assert _canon(got) == expected


def test_v2_checkpoint_reuses_unchanged_sidecars(spark, monkeypatch):
    """VERDICT r6 ask #3 — incremental V2 checkpoints: a later
    checkpoint must REFERENCE (not rewrite) every sidecar whose
    file-action bucket did not change, rewrite the changed buckets,
    and still reconstruct the exact snapshot through the protocol
    reader."""
    import pyarrow.parquet as pq

    from delta_lake_play_spark.table import delta_log as DL

    monkeypatch.setattr(DL, "_SIDECAR_ACTIONS", 4)
    t = _mk(spark, "dl-v2inc", checkpoint_policy="v2")
    for i in range(6):  # many small files → several stable buckets
        t.append(
            spark.range(1000 * (i + 1), 1000 * (i + 1) + 20)
            .withColumn("v", (F.col("id") * 3).cast("long"))
            .coalesce(1)
        )
    t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")

    def _latest_sidecars():
        fn = sorted(_v2_cp_files(t))[-1]
        rows = pq.read_table(os.path.join(ddir, fn)).to_pylist()
        return {
            dict(r["sidecar"]["tags"])["bucket"]: r["sidecar"]["path"]
            for r in rows
            if r.get("sidecar")
        }

    first = _latest_sidecars()
    assert len(first) > 2, f"need multiple buckets, got {first}"
    # one more small append — exactly the new file's bucket changes
    t.append(
        spark.range(9000, 9020)
        .withColumn("v", (F.col("id") * 3).cast("long"))
        .coalesce(1)
    )
    expected = _canon(t.read())
    t.checkpoint_mirror()
    second = _latest_sidecars()
    reused = {b for b in first if second.get(b) == first[b]}
    rewritten = {b for b in second if second[b] != first.get(b)}
    assert reused, "no sidecar reused across checkpoints"
    # the append adds ONE file → at most one existing bucket changes
    # (plus possibly a bucket-count doubling, which the fixture sizes
    # against: 6→7 files keeps need within one power of two)
    assert len(rewritten) <= 2, (first, second)
    # and the reader still reconstructs the exact snapshot from the
    # incremental checkpoint alone
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            os.remove(os.path.join(ddir, fn))
    assert _canon(read_delta_snapshot(spark, t.path)) == expected


def test_version_checksum_written_and_validated(spark):
    """Every mirrored commit gets a ``<v>.crc`` (delta-spark's
    VersionChecksum) whose numFiles/tableSizeBytes the protocol
    reader validates after replay — a tampered checksum (simulating a
    corrupt replay) fails loudly; cleanup deletes the crc with its
    commit."""
    import os as _os

    from delta_lake_play_spark.table.delta_log import DeltaMirrorError

    df = spark.range(0, 40).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-crc"), df.coalesce(1), delta_mirror=True
    )
    t.append(df.withColumn("id", F.col("id") + 1000).coalesce(1))  # v1
    t.delete(F.col("id") < 20)                                      # v2
    ddir = _os.path.join(t.path, "_delta_log")
    for v in (0, 1, 2):
        assert _os.path.exists(_os.path.join(ddir, f"{v:020d}.crc")), v
    read_delta_snapshot(spark, t.path)  # validates v2's crc: no raise
    crc_path = _os.path.join(ddir, f"{2:020d}.crc")
    with open(crc_path) as fh:
        crc = json.load(fh)
    crc["numFiles"] += 1
    with open(crc_path, "w") as fh:
        json.dump(crc, fh)
    with pytest.raises(DeltaMirrorError, match="checksum mismatch"):
        read_delta_snapshot(spark, t.path)
    with open(crc_path, "w") as fh:
        json.dump({**crc, "numFiles": crc["numFiles"] - 1}, fh)
    t.checkpoint_mirror()
    future = int(_os.path.getmtime(t.path) * 1000) + 10_000_000
    deleted = t.cleanup_log_mirror(retention_ms=0, now_ms=future)
    assert f"{0:020d}.crc" in deleted and f"{2:020d}.crc" in deleted
    assert not _os.path.exists(_os.path.join(ddir, f"{0:020d}.crc"))


# ---------------------------------------------------------------- log cleanup


def test_log_cleanup_bounds_replay_horizon(spark):
    """cleanup_expired_logs deletes commits/checkpoints below the
    latest checkpoint once past retention; the latest snapshot stays
    readable from the surviving checkpoint + JSON tail, versions
    below the horizon raise the descriptive error, and SetTransaction
    + tombstone state survives into the NEXT checkpoint via prior-
    checkpoint seeding."""
    import pyarrow.parquet as pq

    df = spark.range(0, 100).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-gc"), df.coalesce(1), delta_mirror=True
    )
    t.append(
        df.withColumn("id", F.col("id") + 1000).coalesce(1),
        txn_app_id="loader-a",
        txn_version=7,
    )                                                   # v1 (txn)
    t.delete(F.col("id") < 40)                          # v2 (tombstone)
    t.checkpoint_mirror()                               # checkpoint at 2
    t.append(df.withColumn("id", F.col("id") + 2000).coalesce(1))  # v3
    expected = _canon(t.read())
    future = int(os.path.getmtime(t.path) * 1000) + 10_000_000
    deleted = t.cleanup_log_mirror(retention_ms=0, now_ms=future)
    ddir = os.path.join(t.path, "_delta_log")
    assert {f"{v:020d}.json" for v in (0, 1, 2)} <= set(deleted)
    assert f"{3:020d}.json" in os.listdir(ddir)  # above the checkpoint: kept
    assert _canon(read_delta_snapshot(spark, t.path)) == expected
    with pytest.raises(FileNotFoundError, match="not reconstructible|not in log"):
        read_delta_snapshot(spark, t.path, version=1)
    # CDF over the cleaned range refuses descriptively (change feed
    # is bounded by log retention, exactly as Delta's)
    from delta_lake_play_spark.table.delta_log import read_delta_changes

    with pytest.raises(FileNotFoundError, match="missing commit"):
        read_delta_changes(spark, t.path, 1, 2)
    # the NEXT checkpoint still carries the cleaned-up txn + tombstone
    t.checkpoint_mirror()  # checkpoint at 3
    cp = [fn for fn in os.listdir(ddir) if ".checkpoint" in fn and fn.endswith(".parquet")]
    rows = pq.read_table(os.path.join(ddir, sorted(cp)[-1])).to_pylist()
    txns = {r["txn"]["appId"]: r["txn"]["version"] for r in rows if r.get("txn")}
    assert txns.get("loader-a") == 7, txns
    assert any(r.get("remove") for r in rows), "tombstone lost across cleanup"


def test_log_cleanup_respects_retention_and_sidecar_refs(spark, monkeypatch):
    """Files younger than retention survive; V2 sidecar GC deletes
    only sidecars no retained manifest references — REUSED sidecars
    (shared between the old and new manifest) must survive the old
    manifest's deletion, and the snapshot must still reconstruct."""
    from delta_lake_play_spark.table import delta_log as DL

    monkeypatch.setattr(DL, "_SIDECAR_ACTIONS", 4)
    t = _mk(spark, "dl-gc2", checkpoint_policy="v2")
    for i in range(5):
        t.append(
            spark.range(1000 * (i + 1), 1000 * (i + 1) + 10)
            .withColumn("v", (F.col("id") * 3).cast("long"))
            .coalesce(1)
        )
    t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")
    sdir = os.path.join(ddir, "_sidecars")
    first_sidecars = set(os.listdir(sdir))
    # fresh files: nothing is past a 1-hour retention yet
    assert t.cleanup_log_mirror(retention_ms=3_600_000) == []
    t.append(
        spark.range(9000, 9010).withColumn("v", (F.col("id") * 3).cast("long")).coalesce(1)
    )
    t.checkpoint_mirror()  # incremental: reuses most sidecars
    expected = _canon(t.read())
    future = int(os.path.getmtime(t.path) * 1000) + 10_000_000
    deleted = t.cleanup_log_mirror(retention_ms=0, now_ms=future)
    assert any(".checkpoint." in d for d in deleted), "old manifest kept"
    surviving = set(os.listdir(sdir))
    assert surviving & first_sidecars, "reused sidecars must survive GC"
    assert _canon(read_delta_snapshot(spark, t.path)) == expected


def test_classic_policy_unchanged_by_v2_machinery(spark):
    """Default tables keep the classic single-file checkpoint name,
    write no _sidecars directory, and stay protocol (1, 2)."""
    t = _mk(spark, "dl-classic")
    t.append(spark.range(200, 220).withColumn("v", (F.col("id") * 3).cast("long")))
    t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")
    assert f"{1:020d}.checkpoint.parquet" in os.listdir(ddir)
    assert not _v2_cp_files(t)
    assert not os.path.exists(os.path.join(ddir, "_sidecars"))
    acts = _actions(t, 0)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}


def test_checkpoint_policy_validated(spark):
    with pytest.raises(ValueError, match="checkpoint_policy"):
        VersionedTable.create(
            spark,
            temp_table_path("dl-badpol"),
            spark.range(3).withColumn("v", F.col("id")),
            checkpoint_policy="v3",
        )


def test_v2_checkpoint_periodic_cadence(spark):
    """The every-N sync cadence writes V2 manifests on V2 tables with
    no explicit checkpoint_mirror call."""
    df = spark.range(0, 50).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-v2cad"),
        df.coalesce(1),
        delta_mirror=True,
        checkpoint_policy="v2",
    )
    for i in range(10):
        t.append(df.withColumn("id", F.col("id") + 100 * (i + 1)).coalesce(1))
    assert _v2_cp_files(t), "no V2 checkpoint written at the v10 cadence"
    got = read_delta_snapshot(spark, t.path)
    assert got.count() == 50 * 11


def test_v2_checkpoint_cdf_metadata_lookup(spark):
    """read_delta_changes resolves its schema from a V2 manifest when
    the JSON prefix below the range start was cleaned up."""
    from delta_lake_play_spark.table.delta_log import read_delta_changes

    df = spark.range(0, 40).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-v2cdf"),
        df.coalesce(1),
        delta_mirror=True,
        enable_cdf=True,
        checkpoint_policy="v2",
    )
    t.append(df.withColumn("id", F.col("id") + 1000).coalesce(1))  # v1
    t.checkpoint_mirror()  # checkpoint at v1
    t.append(df.withColumn("id", F.col("id") + 2000).coalesce(1))  # v2
    ddir = os.path.join(t.path, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(ddir, f"{v:020d}.json"))
    ch = read_delta_changes(spark, t.path, 2, 2)
    assert ch.count() == 40
    assert set(ch.columns) >= {"id", "v", "_change_type", "_commit_version"}


# ---------------------------------------------------------------- log compaction


def test_log_compaction_reconciles_range(spark):
    """The compacted file carries the NET actions of the range (adds
    not later removed, tombstones for pre-range files removed in the
    range), and the reader substitutes it for the missing JSONs."""
    from delta_lake_play_spark.table.delta_log import write_log_compaction

    df = spark.range(0, 100).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-lc"), df.coalesce(1), delta_mirror=True
    )
    t.append(df.withColumn("id", F.col("id") + 1000).coalesce(1))  # v1
    t.delete(F.col("id") < 50)                                      # v2 (rewrite)
    t.append(df.withColumn("id", F.col("id") + 2000).coalesce(1))  # v3
    expected = _canon(t.read())
    p = write_log_compaction(t, 1, 3)
    acts = [json.loads(line) for line in open(p) if line.strip()]
    kinds = [next(iter(a)) for a in acts]
    assert "add" in kinds
    # v0's file was rewritten by the v2 delete: its remove must
    # survive compaction as a tombstone so the reader drops it
    assert "remove" in kinds
    ddir = os.path.join(t.path, "_delta_log")
    for v in (1, 2, 3):
        os.remove(os.path.join(ddir, f"{v:020d}.json"))
    got = read_delta_snapshot(spark, t.path)
    assert _canon(got) == expected


def test_log_compaction_partial_range_ignored_beyond_target(spark):
    """A compacted range extending past the requested version must
    NOT be substituted (it would replay too far)."""
    from delta_lake_play_spark.table.delta_log import write_log_compaction

    df = spark.range(0, 60).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-lc2"), df.coalesce(1), delta_mirror=True
    )
    t.append(df.withColumn("id", F.col("id") + 1000).coalesce(1))  # v1
    t.append(df.withColumn("id", F.col("id") + 2000).coalesce(1))  # v2
    write_log_compaction(t, 1, 2)
    got = read_delta_snapshot(spark, t.path, version=1)
    assert got.count() == 120  # v1 state, not v2's 180


def test_log_compaction_validates_range(spark):
    from delta_lake_play_spark.table.delta_log import write_log_compaction

    df = spark.range(0, 10).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-lc3"), df.coalesce(1), delta_mirror=True
    )
    with pytest.raises(ValueError, match="at least two"):
        write_log_compaction(t, 1, 1)
    with pytest.raises(FileNotFoundError, match="missing"):
        write_log_compaction(t, 0, 5)


def test_compacted_files_are_not_commits(spark):
    """r6 review: `<x>.<y>.compacted.json` also ends in '.json' —
    no log consumer may list it as a commit. Pins the three symptoms
    the review reproduced: ICT timestamp resolution must keep
    working, a later checkpoint must not duplicate tombstones, and a
    narrower re-compaction sibling must still substitute when the
    wider range overshoots the target."""
    import pyarrow.parquet as pq

    from delta_lake_play_spark.table.delta_log import (
        resolve_delta_timestamp,
        write_log_compaction,
    )

    df = spark.range(0, 80).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-lc4"),
        df.coalesce(1),
        delta_mirror=True,
        in_commit_timestamps=True,
    )
    t.append(df.withColumn("id", F.col("id") + 1000).coalesce(1))  # v1
    t.delete(F.col("id") < 40)                                      # v2
    t.append(df.withColumn("id", F.col("id") + 2000).coalesce(1))  # v3
    t.append(df.withColumn("id", F.col("id") + 3000).coalesce(1))  # v4
    expected3 = read_delta_snapshot(spark, t.path, version=3).count()
    write_log_compaction(t, 1, 3)
    write_log_compaction(t, 1, 4)  # re-compaction: two spans from 1
    # ICT resolution still works with compacted files present
    import json as _json

    ddir = os.path.join(t.path, "_delta_log")
    with open(os.path.join(ddir, f"{4:020d}.json")) as fh:
        ict = _json.loads(fh.readline())["commitInfo"]["inCommitTimestamp"]
    assert resolve_delta_timestamp(t.path, ict) == 4
    # a checkpoint written now must not double-count the v2 tombstone
    t.checkpoint_mirror()
    cps = [fn for fn in os.listdir(ddir) if ".checkpoint." in fn]
    rows = pq.read_table(os.path.join(ddir, sorted(cps)[-1])).to_pylist()
    removes = [r["remove"]["path"] for r in rows if r.get("remove")]
    assert len(removes) == len(set(removes)), "duplicate tombstones in checkpoint"
    # delete the [1,3] JSONs: version 3 must reconstruct via the
    # NARROWER span even though [1,4] also starts at 1 and overshoots
    for v in (1, 2, 3):
        os.remove(os.path.join(ddir, f"{v:020d}.json"))
    assert read_delta_snapshot(spark, t.path, version=3).count() == expected3


def test_log_compaction_mid_span_checkpoint_replay(spark):
    """ADVICE r6 (two coupled fixes): a checkpoint landing MID-span
    (checkpoint at 2, compacted [1,5], JSONs 1..5 cleaned) must still
    reconstruct versions past the checkpoint by replaying the covering
    compacted file over the checkpoint state — which is only correct
    because compaction now RETAINS the remove tombstone for a file
    both added and removed in-range (the checkpoint still holds the
    file added at v1; the [1,5] reconciliation must delete it)."""
    from delta_lake_play_spark.table.delta_log import write_log_compaction

    df = spark.range(0, 50).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-lc5"), df.coalesce(1), delta_mirror=True
    )
    t.append(df.withColumn("id", F.col("id") + 1000).coalesce(1))   # v1
    t.append(df.withColumn("id", F.col("id") + 2000).coalesce(1))   # v2
    t.checkpoint_mirror()  # checkpoint at 2 — still holds v1's file
    t.append(df.withColumn("id", F.col("id") + 3000).coalesce(1))   # v3
    t.delete((F.col("id") >= 1000) & (F.col("id") < 2000))          # v4 kills v1's file
    t.append(df.withColumn("id", F.col("id") + 4000).coalesce(1))   # v5
    expected = _canon(t.read())
    p = write_log_compaction(t, 1, 5)
    # the in-range transient (added v1, removed v4) keeps its tombstone
    acts = [json.loads(line) for line in open(p) if line.strip()]
    added = {a["add"]["path"] for a in acts if "add" in a}
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    assert removed - added, "in-range transient file lost its tombstone"
    ddir = os.path.join(t.path, "_delta_log")
    for v in (1, 2, 3, 4, 5):
        os.remove(os.path.join(ddir, f"{v:020d}.json"))
    got = read_delta_snapshot(spark, t.path)
    assert _canon(got) == expected
    assert got.where((F.col("id") >= 1000) & (F.col("id") < 2000)).count() == 0


def test_optimize_where_on_date_partition(spark):
    """r6 review: date-partitioned tables (the docstring's own
    'compact yesterday's partition' case) must prune through the
    string→date cast instead of crashing in createDataFrame."""
    from pyspark.sql import functions as F

    df = spark.range(0, 60).withColumn(
        "day", F.date_add(F.lit("2026-08-01").cast("date"), (F.col("id") % 3).cast("int"))
    )
    t = VersionedTable.create(
        spark, temp_table_path("dl-optdate"), df.repartition(3), partition_by=["day"]
    )
    before = sorted(tuple(r) for r in t.read().collect())
    v = t.optimize(target_files=1, where="day = DATE'2026-08-02'")
    e = t._read_log(v)
    hit = [f for f in e["files"] if "day=2026-08-02" in f["path"]]
    assert len(hit) == 1
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_duckdb_sql_protocol_reader_agrees(spark):
    """A THIRD, fully independent reader of the mirrored _delta_log:
    the action reconciliation (adds minus later removes) is written
    in DuckDB SQL over the raw commit JSON — sharing zero code with
    either the private log layer or the module's Python protocol
    reader — and the surviving parquet files are read back by DuckDB.
    Agreement here is the closest this environment gets to an
    external Delta client (delta-rs / duckdb-delta are not
    installable; SURVEY §14 probe)."""
    import duckdb
    from urllib.parse import unquote

    df = spark.range(0, 120).withColumn("v", (F.col("id") * 7).cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-duck"), df.repartition(3), delta_mirror=True
    )
    t.append(spark.range(120, 160).withColumn("v", (F.col("id") * 7).cast("long")))
    t.delete(F.col("id") % 11 == 0)   # rewrites files -> remove actions
    t.update({"v": F.lit(-1).cast("long")}, F.col("id") == 5)

    ddir = os.path.join(t.path, "_delta_log")
    commits = sorted(
        os.path.join(ddir, fn)
        for fn in os.listdir(ddir)
        if fn.endswith(".json") and not fn.startswith(("_", "."))
    )
    con = duckdb.connect()
    file_list = ", ".join(f"'{c}'" for c in commits)
    # Two direct scans (one per action kind): DuckDB 1.0 mis-executes
    # json_extract filters over an ALIASED subquery of
    # read_ndjson_objects ("Malformed JSON ... length 0"), so the
    # extraction stays inline on the scan itself.
    files = con.execute(
        f"""
        WITH adds AS (
          SELECT CAST(regexp_extract(filename, '(\\d{{20}})\\.json$', 1) AS BIGINT) AS v,
                 json_extract_string("json", '$.add.path') AS p
          FROM read_ndjson_objects([{file_list}], filename=true)
          WHERE json_extract("json", '$.add') IS NOT NULL
        ),
        rms AS (
          SELECT CAST(regexp_extract(filename, '(\\d{{20}})\\.json$', 1) AS BIGINT) AS v,
                 json_extract_string("json", '$.remove.path') AS p
          FROM read_ndjson_objects([{file_list}], filename=true)
          WHERE json_extract("json", '$.remove') IS NOT NULL
        )
        SELECT p FROM adds a
        WHERE NOT EXISTS (SELECT 1 FROM rms r WHERE r.p = a.p AND r.v > a.v)
        ORDER BY p
        """
    ).fetchall()
    paths = [os.path.join(t.path, unquote(p)) for (p,) in files]
    assert paths, "SQL reconciliation found no live files"
    duck_rows = sorted(
        con.execute(
            "SELECT id, v FROM read_parquet($paths)", {"paths": paths}
        ).fetchall()
    )
    spark_rows = sorted(tuple(r) for r in t.read().select("id", "v").collect())
    assert duck_rows == spark_rows
    con.close()


def test_version_crc_incremental_matches_full(spark, monkeypatch):
    """The incremental crc (prior .crc + this commit's unit deltas)
    must equal the full live-set recompute byte-for-byte, and a
    one-file append on a many-file table must stat only the CHANGED
    units — not the whole snapshot (the O(F·V) backfill trap)."""
    import os as _os

    from delta_lake_play_spark.table import delta_log as dl

    df = spark.range(0, 200).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-crc-inc"), df.repartition(8), delta_mirror=True
    )
    calls = []
    real = dl._unit_size_count

    def counting(table, f, part_cols, cmap):
        calls.append(f["path"])
        return real(table, f, part_cols, cmap)

    monkeypatch.setattr(dl, "_unit_size_count", counting)
    t.append(df.limit(5).coalesce(1))  # v1: ONE added file
    assert len(calls) <= 2, calls  # changed units only, never all 8+
    ddir = _os.path.join(t.path, "_delta_log")
    with open(_os.path.join(ddir, f"{1:020d}.crc")) as fh:
        incremental = json.load(fh)
    # force the full-recompute path by dropping prev and compare
    monkeypatch.setattr(dl, "_unit_size_count", real)
    entry = t._read_log(1)
    _os.remove(_os.path.join(ddir, f"{1:020d}.crc"))
    dl._write_version_crc(t, ddir, 1, entry, prev=None)
    with open(_os.path.join(ddir, f"{1:020d}.crc")) as fh:
        full = json.load(fh)
    assert incremental == full
    read_delta_snapshot(spark, t.path)  # still validates


def test_clustering_domain_full_lifecycle(spark):
    """Clustered-table mirror (liquid clustering): CREATE CLUSTER BY
    writes the delta.clustering domainMetadata + the clustering
    writer feature; ALTER re-declares; the domain survives checkpoint
    + JSON cleanup; clearing tombstones it out of replay."""
    import os as _os

    from delta_lake_play_spark.table.delta_log import (
        read_delta_domains,
        read_delta_snapshot,
    )

    df = spark.range(0, 300).withColumn("v", (F.col("id") * 7 % 50).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-clust"),
        df.repartition(4),
        delta_mirror=True,
        cluster_by=["v"],
    )
    ddir = _os.path.join(t.path, "_delta_log")
    v0 = _actions(t, 0)
    protos = [a["protocol"] for a in v0 if "protocol" in a]
    assert protos and "clustering" in protos[0]["writerFeatures"]
    assert "domainMetadata" in protos[0]["writerFeatures"]
    doms = [a["domainMetadata"] for a in v0 if "domainMetadata" in a]
    assert any(
        d["domain"] == "delta.clustering"
        and json.loads(d["configuration"])["clusteringColumns"] == [["v"]]
        for d in doms
    )
    # ALTER: metadata-only commit re-declares; plain optimize applies it
    t.set_cluster_by(["id"])
    assert t.cluster_by_columns() == ["id"]
    t.optimize(target_files=2)
    entry = t._read_log(t.latest_version())
    assert entry["operationParameters"]["clusterBy"] == ["id"]
    # survives checkpoint + cleaned JSON prefix
    v = t.checkpoint_mirror()
    for fn in list(_os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            if int(fn.split(".")[0]) <= v:
                _os.remove(_os.path.join(ddir, fn))
    doms = read_delta_domains(t.path)
    assert doms["delta.clustering"]["clusteringColumns"] == [["id"]]
    assert read_delta_snapshot(spark, t.path).count() == 300
    # clearing tombstones the domain out of replay
    t.set_cluster_by([])
    assert t.cluster_by_columns() == []
    assert "delta.clustering" not in read_delta_domains(t.path)


def test_clustering_mid_log_protocol_upgrade(spark):
    """set_cluster_by on a table created WITHOUT clustering emits the
    protocol upgrade (writer 7 + clustering feature) in the SAME
    commit as the domain, per the mid-log upgrade rule."""
    df = spark.range(0, 60).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-clust-up"), df, delta_mirror=True
    )
    v0_protos = [a["protocol"] for a in _actions(t, 0) if "protocol" in a]
    assert all("writerFeatures" not in p for p in v0_protos)
    t.set_cluster_by(["v"])
    acts = _actions(t, 1)
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos and "clustering" in protos[0]["writerFeatures"]
    assert protos[0]["minWriterVersion"] == 7
    assert any(
        a["domainMetadata"]["domain"] == "delta.clustering"
        for a in acts
        if "domainMetadata" in a
    )


# --- DuckDB-SQL protocol reader: checkpoint / V2 / compaction replay -------
# Extends the independent SQL reader beyond raw JSON commits (VERDICT
# r7 ask #4): the strongest external-client stand-in available while
# delta-rs / duckdb-delta stay uninstallable. Shared SQL shape: every
# source of file actions contributes (version, path) rows; live files
# are adds with no later remove. No code is shared with the module's
# Python readers — reconciliation is pure SQL over the log artifacts.


def _duck_live_paths(con, sources: list[tuple[str, str]]) -> list[str]:
    """``sources``: (kind, spec) where kind is ``json`` (spec = a SQL
    list literal of commit-file paths, versions parsed from names),
    ``parquet@N`` (spec = one checkpoint/sidecar parquet path, all
    actions at version N), or ``compacted@N`` (spec = one compacted
    ndjson path, reconciled range ending at N)."""
    adds, rms = [], []
    for kind, spec in sources:
        if kind == "json":
            v = "CAST(regexp_extract(filename, '(\\d{20})\\.json$', 1) AS BIGINT)"
            adds.append(
                f"SELECT {v} AS v, json_extract_string(\"json\", '$.add.path') AS p "
                f"FROM read_ndjson_objects([{spec}], filename=true) "
                f"WHERE json_extract(\"json\", '$.add') IS NOT NULL"
            )
            rms.append(
                f"SELECT {v} AS v, json_extract_string(\"json\", '$.remove.path') AS p "
                f"FROM read_ndjson_objects([{spec}], filename=true) "
                f"WHERE json_extract(\"json\", '$.remove') IS NOT NULL"
            )
        elif kind.startswith("parquet@"):
            v = int(kind.split("@")[1])
            adds.append(
                f"SELECT {v} AS v, add.path AS p FROM read_parquet('{spec}') "
                f"WHERE add IS NOT NULL"
            )
            rms.append(
                f"SELECT {v} AS v, remove.path AS p FROM read_parquet('{spec}') "
                f"WHERE remove IS NOT NULL"
            )
        elif kind.startswith("compacted@"):
            v = int(kind.split("@")[1])
            adds.append(
                f"SELECT {v} AS v, json_extract_string(\"json\", '$.add.path') AS p "
                f"FROM read_ndjson_objects(['{spec}']) "
                f"WHERE json_extract(\"json\", '$.add') IS NOT NULL"
            )
            rms.append(
                f"SELECT {v} AS v, json_extract_string(\"json\", '$.remove.path') AS p "
                f"FROM read_ndjson_objects(['{spec}']) "
                f"WHERE json_extract(\"json\", '$.remove') IS NOT NULL"
            )
        else:  # pragma: no cover - test-harness misuse
            raise ValueError(kind)
    q = (
        "WITH adds AS (" + " UNION ALL ".join(adds) + "), "
        "rms AS (" + " UNION ALL ".join(rms) + ") "
        "SELECT DISTINCT p FROM adds a "
        "WHERE NOT EXISTS (SELECT 1 FROM rms r WHERE r.p = a.p AND r.v > a.v) "
        "ORDER BY p"
    )
    return [p for (p,) in con.execute(q).fetchall()]


def _duck_compare(con, t, live_rel_paths):
    from urllib.parse import unquote

    paths = [os.path.join(t.path, unquote(p)) for p in live_rel_paths]
    assert paths, "SQL reconciliation found no live files"
    duck = sorted(
        con.execute(
            "SELECT id, v FROM read_parquet($paths)", {"paths": paths}
        ).fetchall()
    )
    spark_rows = sorted(tuple(r) for r in t.read().select("id", "v").collect())
    assert duck == spark_rows


def _duck_json_sources(ddir):
    commits = sorted(
        os.path.join(ddir, fn)
        for fn in os.listdir(ddir)
        if fn.endswith(".json")
        and not fn.startswith(("_", "."))
        and ".compacted." not in fn
    )
    return commits


def test_duckdb_sql_reader_classic_checkpoint(spark):
    """SQL replay THROUGH a classic checkpoint: JSON prefix deleted,
    live set = checkpoint adds (at the checkpoint version) + later
    JSON adds, minus later removes — pure DuckDB SQL end to end."""
    import duckdb

    df = spark.range(0, 150).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-duck-cp"), df.repartition(3), delta_mirror=True
    )
    t.append(spark.range(150, 200).withColumn("v", (F.col("id") * 3).cast("long")))
    t.delete(F.col("id") % 9 == 0)
    cp = t.checkpoint_mirror()                      # checkpoint at v2
    t.append(spark.range(200, 230).withColumn("v", (F.col("id") * 3).cast("long")))
    t.update({"v": F.lit(-5).cast("long")}, F.col("id") == 3)
    ddir = os.path.join(t.path, "_delta_log")
    for fn in list(os.listdir(ddir)):               # clean the prefix
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            if int(fn.split(".")[0]) <= cp:
                os.remove(os.path.join(ddir, fn))
    cp_file = next(
        os.path.join(ddir, fn)
        for fn in os.listdir(ddir)
        if fn == f"{cp:020d}.checkpoint.parquet"
    )
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    con = duckdb.connect()
    live = _duck_live_paths(
        con, [(f"parquet@{cp}", cp_file), ("json", jsons)]
    )
    _duck_compare(con, t, live)
    con.close()


def test_duckdb_sql_reader_v2_manifest_sidecars(spark):
    """SQL replay through a V2 checkpoint: the manifest's sidecar rows
    name the file-action shards; each sidecar parquet contributes its
    adds/removes at the checkpoint version. Two SQL statements (list
    sidecars, then reconcile) — still zero shared reader code."""
    import duckdb

    df = spark.range(0, 150).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-duck-v2"),
        df.repartition(3),
        delta_mirror=True,
        checkpoint_policy="v2",
    )
    t.append(spark.range(150, 200).withColumn("v", (F.col("id") * 3).cast("long")))
    t.delete(F.col("id") % 9 == 0)
    cp = t.checkpoint_mirror()
    t.append(spark.range(200, 230).withColumn("v", (F.col("id") * 3).cast("long")))
    ddir = os.path.join(t.path, "_delta_log")
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            if int(fn.split(".")[0]) <= cp:
                os.remove(os.path.join(ddir, fn))
    manifest = next(
        os.path.join(ddir, fn)
        for fn in os.listdir(ddir)
        if fn.startswith(f"{cp:020d}.checkpoint.") and fn.endswith(".parquet")
    )
    con = duckdb.connect()
    sidecars = [
        s
        for (s,) in con.execute(
            f"SELECT sidecar.path FROM read_parquet('{manifest}') "
            f"WHERE sidecar IS NOT NULL"
        ).fetchall()
    ]
    assert sidecars, "V2 manifest lists no sidecars"
    sources = [(f"parquet@{cp}", manifest)] + [
        (f"parquet@{cp}", os.path.join(ddir, "_sidecars", s)) for s in sidecars
    ]
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    live = _duck_live_paths(con, sources + [("json", jsons)])
    _duck_compare(con, t, live)
    con.close()


def test_duckdb_sql_reader_compacted_range(spark):
    """SQL replay through a minor log compaction: JSONs 1..4 deleted,
    the <1>.<4>.compacted.json reconciliation substitutes for them at
    the range's end version."""
    import duckdb

    from delta_lake_play_spark.table.delta_log import write_log_compaction

    df = spark.range(0, 150).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-duck-cmp"), df.repartition(3), delta_mirror=True
    )
    t.append(spark.range(150, 180).withColumn("v", (F.col("id") * 3).cast("long")))  # v1
    t.delete(F.col("id") % 9 == 0)                                                   # v2
    t.update({"v": F.lit(-5).cast("long")}, F.col("id") == 3)                        # v3
    t.append(spark.range(180, 210).withColumn("v", (F.col("id") * 3).cast("long")))  # v4
    t.delete(F.col("id") % 13 == 0)                                                  # v5
    cfn = write_log_compaction(t, 1, 4)
    ddir = os.path.join(t.path, "_delta_log")
    for v in range(1, 5):
        os.remove(os.path.join(ddir, f"{v:020d}.json"))
    con = duckdb.connect()
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    live = _duck_live_paths(
        con,
        [("json", jsons), ("compacted@4", os.path.join(ddir, cfn))],
    )
    _duck_compare(con, t, live)
    con.close()


def test_duckdb_sql_reader_column_mapping(spark):
    """SQL replay under column mapping mode "name": the latest
    metaData's schemaString carries each field's
    delta.columnMapping.physicalName; the SQL reader resolves the
    logical→physical map from the JSON actions alone, reads the
    PHYSICAL parquet columns from the reconciled live set, and
    aliases them back — zero shared reader code."""
    import duckdb
    from urllib.parse import unquote

    df = spark.range(0, 120).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-duck-map"), df.repartition(3), delta_mirror=True
    )
    t.rename_column("v", "val")                       # mapping turns on
    t.update({"val": F.lit(-5).cast("long")}, F.col("id") == 3)
    t.delete(F.col("id") % 9 == 0)
    ddir = os.path.join(t.path, "_delta_log")
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    con = duckdb.connect()
    # logical -> physical, resolved in SQL from the newest metaData
    # (two statements: DuckDB's range() cannot lateral-join a column,
    # so the schemaString is fetched first and bound as a parameter)
    (ss,) = con.execute(
        f"""
        SELECT json_extract_string("json", '$.metaData.schemaString') AS ss
        FROM read_ndjson_objects([{jsons}], filename=true)
        WHERE json_extract("json", '$.metaData') IS NOT NULL
        ORDER BY CAST(regexp_extract(filename, '(\\d{{20}})\\.json$', 1) AS BIGINT) DESC
        LIMIT 1
        """
    ).fetchone()
    mapping = con.execute(
        """
        SELECT json_extract_string($ss, '$.fields[' || i || '].name') AS logical,
               coalesce(
                 json_extract_string(
                   $ss, '$.fields[' || i || '].metadata."delta.columnMapping.physicalName"'),
                 json_extract_string($ss, '$.fields[' || i || '].name')
               ) AS physical
        FROM range(CAST(json_array_length($ss, '$.fields') AS BIGINT)) r(i)
        ORDER BY i
        """,
        {"ss": ss},
    ).fetchall()
    assert dict(mapping)["val"] == "v", mapping  # rename kept physical name
    live = _duck_live_paths(con, [("json", jsons)])
    paths = [os.path.join(t.path, unquote(p)) for p in live]
    sel = ", ".join(f'"{phys}" AS "{log}"' for log, phys in mapping)
    duck = sorted(
        con.execute(
            f"SELECT {sel} FROM read_parquet($paths)", {"paths": paths}
        ).fetchall()
    )
    con.close()
    spark_rows = sorted(
        tuple(r) for r in t.read().select("id", "val").collect()
    )
    assert duck == spark_rows


def test_duckdb_sql_reader_cdc_replay(spark):
    """SQL replay of the Change Data Feed: per commit in the range,
    cdc actions are used EXCLUSIVELY when present (update/delete
    pre/post images from the change files); a commit with no cdc
    action derives inserts from its dataChange=true adds (the
    protocol's append fallback). Row-identical to table_changes."""
    import duckdb
    from urllib.parse import unquote

    df = spark.range(0, 120).withColumn("val", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-duck-cdc"),
        df.repartition(3),
        delta_mirror=True,
        enable_cdf=True,
    )
    t.update({"val": F.lit(-5).cast("long")}, F.col("id") == 3)      # v1 cdc
    t.delete(F.col("id") % 9 == 0)                                   # v2 cdc
    t.append(  # v3: pure append, no cdc action — derive inserts
        spark.range(200, 220).withColumn("val", (F.col("id") * 3).cast("long"))
    )
    ddir = os.path.join(t.path, "_delta_log")
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    con = duckdb.connect()
    # extraction stays INLINE on each read_ndjson_objects scan — the
    # same DuckDB quirk the other SQL-reader tests document (filters
    # over an aliased scan subquery mis-execute as malformed JSON)
    v_expr = "CAST(regexp_extract(filename, '(\\d{20})\\.json$', 1) AS BIGINT)"
    sources = con.execute(
        f"""
        WITH cdc AS (
          SELECT {v_expr} AS v,
                 json_extract_string("json", '$.cdc.path') AS p,
                 'cdc' AS kind
          FROM read_ndjson_objects([{jsons}], filename=true)
          WHERE json_extract("json", '$.cdc') IS NOT NULL
            AND {v_expr} BETWEEN 1 AND 3
        ),
        ins AS (
          SELECT {v_expr} AS v,
                 json_extract_string("json", '$.add.path') AS p,
                 'insert' AS kind
          FROM read_ndjson_objects([{jsons}], filename=true)
          WHERE json_extract("json", '$.add') IS NOT NULL
            AND CAST(json_extract("json", '$.add.dataChange') AS BOOLEAN)
            AND {v_expr} BETWEEN 1 AND 3
            AND {v_expr} NOT IN (SELECT v FROM cdc)
        )
        SELECT * FROM cdc UNION ALL SELECT * FROM ins ORDER BY v, p
        """
    ).fetchall()
    assert {k for (_, _, k) in sources} == {"cdc", "insert"}
    rows = []
    for v, p, kind in sources:
        full = os.path.join(t.path, unquote(p))
        if kind == "cdc":
            q = (
                f"SELECT id, val, _change_type, {v} AS _commit_version "
                f"FROM read_parquet('{full}')"
            )
        else:
            q = (
                f"SELECT id, val, 'insert' AS _change_type, "
                f"{v} AS _commit_version FROM read_parquet('{full}')"
            )
        rows += con.execute(q).fetchall()
    con.close()
    spark_rows = sorted(
        tuple(r)
        for r in t.table_changes(1, 3)
        .select("id", "val", "_change_type", "_commit_version")
        .collect()
    )
    assert sorted(rows) == spark_rows and len(spark_rows) > 20


def test_native_dv_mirror_lifecycle(spark):
    """dv_mirror_policy="native": MoR deletes mirror as protocol
    deletionVector specs (roaring .bin files) — no survivor rewrite.
    Protocol upgrades to (3,7) with deletionVectors in BOTH feature
    lists, metaData advertises delta.enableDeletionVectors, DV
    changes read as remove+re-add of the same path, every version
    time-travels through the reader, and the masks survive a
    checkpoint + cleaned JSON prefix. Row tracking composes (native
    DVs never rewrite, so row-id ranges stay valid)."""
    df = spark.range(0, 300).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-dv-nat"),
        df.repartition(3),
        delta_mirror=True,
        dv_mirror_policy="native",
        row_tracking=True,
    )
    t.delete_mor(F.col("id") % 7 == 0)     # v1
    t.delete_mor(F.col("id") % 11 == 3)    # v2: union
    v0 = _actions(t, 0)
    proto = next(a["protocol"] for a in v0 if "protocol" in a)
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["writerFeatures"]
    assert "deletionVectors" in proto["readerFeatures"]
    meta = next(a["metaData"] for a in v0 if "metaData" in a)
    assert meta["configuration"]["delta.enableDeletionVectors"] == "true"
    v2 = _actions(t, 2)
    dv_adds = [a["add"] for a in v2 if "add" in a and a["add"].get("deletionVector")]
    removes = [a["remove"]["path"] for a in v2 if "remove" in a]
    assert dv_adds and removes
    assert {a["path"] for a in dv_adds} <= set(removes)  # DV change = re-add same path
    for a in dv_adds:
        spec = a["deletionVector"]
        assert spec["storageType"] == "u" and spec["cardinality"] > 0
        assert json.loads(a["stats"])["tightBounds"] is False
        assert os.path.exists(
            os.path.join(t.path, *spec_rel(spec).split("/"))
        )
    for v in range(3):
        got = sorted(
            tuple(r)
            for r in read_delta_snapshot(spark, t.path, version=v).collect()
        )
        want = sorted(tuple(r) for r in t.read(version=v).collect())
        assert got == want, f"version {v}"
    t.checkpoint_mirror()
    for fn in list(os.listdir(os.path.join(t.path, "_delta_log"))):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            os.remove(os.path.join(t.path, "_delta_log", fn))
    got = sorted(tuple(r) for r in read_delta_snapshot(spark, t.path).collect())
    want = sorted(tuple(r) for r in t.read().collect())
    assert got == want and len(got) == 300 - len(
        {i for i in range(300) if i % 7 == 0 or i % 11 == 3}
    )


def spec_rel(spec):
    from delta_lake_play_spark.table.dv_codec import dv_file_rel_path

    return dv_file_rel_path(spec)


def test_duckdb_sql_reader_native_dv_counts(spark):
    """DuckDB-SQL reconciliation of a NATIVE-DV log: SQL cannot decode
    roaring bitmaps, but the protocol carries enough for an exact
    row-count check — live logical rows = Σ(stats.numRecords −
    deletionVector.cardinality) over reconciled adds, and the physical
    parquet scan of those files must exceed the logical count by
    exactly Σcardinality. Zero shared code with the Python readers."""
    import duckdb
    from urllib.parse import unquote

    df = spark.range(0, 200).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-duck-dv"),
        df.repartition(3),
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("id") % 7 == 0)
    t.delete_mor(F.col("id") % 11 == 3)
    ddir = os.path.join(t.path, "_delta_log")
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH adds AS (
          SELECT CAST(regexp_extract(filename, '(\\d{{20}})\\.json$', 1) AS BIGINT) AS v,
                 json_extract_string("json", '$.add.path') AS p,
                 CAST(json_extract(json_extract_string("json", '$.add.stats'),
                                   '$.numRecords') AS BIGINT) AS nrec,
                 COALESCE(CAST(json_extract("json", '$.add.deletionVector.cardinality') AS BIGINT), 0) AS dv
          FROM read_ndjson_objects([{jsons}], filename=true)
          WHERE json_extract("json", '$.add') IS NOT NULL
        ),
        rms AS (
          SELECT CAST(regexp_extract(filename, '(\\d{{20}})\\.json$', 1) AS BIGINT) AS v,
                 json_extract_string("json", '$.remove.path') AS p
          FROM read_ndjson_objects([{jsons}], filename=true)
          WHERE json_extract("json", '$.remove') IS NOT NULL
        ),
        live AS (
          SELECT p, nrec, dv FROM (
            SELECT p, nrec, dv,
                   row_number() OVER (PARTITION BY p ORDER BY v DESC) AS rn
            FROM adds a
            WHERE NOT EXISTS (SELECT 1 FROM rms r WHERE r.p = a.p AND r.v > a.v)
          ) WHERE rn = 1
        )
        SELECT p, nrec, dv FROM live ORDER BY p
        """
    ).fetchall()
    assert rows, "no live adds reconciled"
    logical = sum(nrec - dv for _, nrec, dv in rows)
    masked = sum(dv for _, _, dv in rows)
    assert masked > 0, "fixture produced no deletion vectors"
    paths = [os.path.join(t.path, unquote(p)) for p, _, _ in rows]
    (physical,) = con.execute(
        "SELECT count(*) FROM read_parquet($paths)", {"paths": paths}
    ).fetchone()
    assert physical == logical + masked
    assert t.read().count() == logical
    con.close()


def test_native_dv_bin_gc(spark):
    """Stale deletion-vector .bin files (superseded DV states) are
    reclaimed by log cleanup; every bin a surviving artifact still
    references — including via checkpoint rows — is kept and the
    reader still replays."""
    from delta_lake_play_spark.table.dv_codec import dv_file_rel_path

    df = spark.range(0, 120).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-dv-gc"),
        df.coalesce(1),
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("id") % 7 == 0)    # DV state 1 (superseded below)
    t.delete_mor(F.col("id") % 11 == 3)   # DV state 2
    bins_before = {
        fn for fn in os.listdir(t.path) if fn.startswith("deletion_vector_")
    }
    assert len(bins_before) == 2
    t.checkpoint_mirror()
    future = int(os.path.getmtime(t.path) * 1000) + 10_000_000
    deleted = t.cleanup_log_mirror(retention_ms=0, now_ms=future)
    gone_bins = [d for d in deleted if d.startswith("deletion_vector_")]
    assert len(gone_bins) == 1            # the superseded state only
    live = next(
        a["add"]["deletionVector"]
        for a in _actions(t, 2)
        if "add" in a and a["add"].get("deletionVector")
    ) if os.path.exists(
        os.path.join(t.path, "_delta_log", f"{2:020d}.json")
    ) else None
    kept = {
        fn for fn in os.listdir(t.path) if fn.startswith("deletion_vector_")
    }
    assert len(kept) == 1
    if live is not None:
        assert dv_file_rel_path(live) in kept
    got = sorted(tuple(r) for r in read_delta_snapshot(spark, t.path).collect())
    want = sorted(tuple(r) for r in t.read().collect())
    assert got == want


def test_remove_actions_carry_extended_metadata(spark):
    """Removes in commit JSONs carry extendedFileMetadata +
    partitionValues + size (spec-recommended; external VACUUMs
    account bytes from tombstones), and a native-DV unit's remove
    names its outgoing deletionVector."""
    df = spark.range(0, 120).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-rm-ext"),
        df.coalesce(1),
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("id") % 7 == 0)    # v1: add(path, DV1) + remove(path)
    t.delete_mor(F.col("id") % 11 == 3)   # v2: remove carries DV1
    v1_rms = [a["remove"] for a in _actions(t, 1) if "remove" in a]
    assert v1_rms and all(
        rm.get("extendedFileMetadata") is True
        and isinstance(rm.get("size"), int)
        and "partitionValues" in rm
        for rm in v1_rms
    )
    v2_rms = [a["remove"] for a in _actions(t, 2) if "remove" in a]
    assert any(rm.get("deletionVector") for rm in v2_rms)
    dv = next(rm["deletionVector"] for rm in v2_rms if rm.get("deletionVector"))
    v1_adds = [
        a["add"] for a in _actions(t, 1) if "add" in a and a["add"].get("deletionVector")
    ]
    assert dv == v1_adds[0]["deletionVector"]  # the OUTGOING state


def test_timestamp_ntz_schema_declares_feature(spark):
    """A schema containing TIMESTAMP_NTZ must declare the
    timestampNtz reader-writer feature — protocol (3,7) with the name
    in BOTH lists; a plain-timestamp table stays at (1,2). The
    snapshot still replays with ntz values intact."""
    df = spark.range(0, 20).select(
        "id",
        F.lit("2024-01-02T03:04:05").cast("timestamp_ntz").alias("t"),
    )
    t = VersionedTable.create(
        spark, temp_table_path("dl-ntz"), df, delta_mirror=True
    )
    proto = next(a["protocol"] for a in _actions(t, 0) if "protocol" in a)
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "timestampNtz" in proto["writerFeatures"]
    assert "timestampNtz" in proto["readerFeatures"]
    got = sorted(tuple(r) for r in read_delta_snapshot(spark, t.path).collect())
    want = sorted(tuple(r) for r in t.read().collect())
    assert got == want
    # control: no ntz anywhere -> legacy protocol, no feature lists
    t2 = VersionedTable.create(
        spark,
        temp_table_path("dl-no-ntz"),
        spark.range(0, 5).withColumn("v", F.col("id").cast("long")),
        delta_mirror=True,
    )
    p2 = next(a["protocol"] for a in _actions(t2, 0) if "protocol" in a)
    assert p2 == {"minReaderVersion": 1, "minWriterVersion": 2}


def test_variant_schema_declares_feature(spark):
    """A VARIANT column in the schema declares the variantType
    reader-writer feature. Unit-level check against _protocol_action:
    end-to-end variant TABLES are env-blocked — this build's pyarrow
    cannot parse Spark's VARIANT parquet logical type, so the footer
    pass inside create() raises before any log is written (pinned
    below; re-probe when pyarrow learns the type)."""
    import pytest as _pytest

    from delta_lake_play_spark.table.delta_log import _protocol_action

    df = spark.range(0, 3).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-var-host"), df, delta_mirror=True
    )
    entry = t._read_log(0)
    var_schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "p", "type": "variant", "nullable": True, "metadata": {}},
        ],
    }
    proto = _protocol_action(t, {**entry, "schema": var_schema})["protocol"]
    assert "variantType" in proto["writerFeatures"]
    assert "variantType" in proto["readerFeatures"]
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    # the env block, pinned so its lifting is noticed
    vdf = spark.range(0, 4).select(
        "id", F.parse_json(F.lit('{"k": 1}')).alias("p")
    )
    with _pytest.raises(OSError, match="LogicalType"):
        VersionedTable.create(spark, temp_table_path("dl-var-e2e"), vdf)


def test_reader_refuses_unknown_reader_features(spark):
    """PROTOCOL.md reader responsibility: refuse tables naming reader
    features this reader does not implement, and any
    minReaderVersion > 3 — never silently misread."""
    from delta_lake_play_spark.table.delta_log import DeltaMirrorError

    df = spark.range(0, 10).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-unknown"), df, delta_mirror=True
    )
    ddir = os.path.join(t.path, "_delta_log")
    with open(os.path.join(ddir, f"{0:020d}.json")) as fh:
        lines = fh.readlines()
    out = []
    for line in lines:
        a = json.loads(line)
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["futuristicEncoding"],
                "writerFeatures": ["futuristicEncoding"],
            }
        out.append(json.dumps(a))
    os.remove(os.path.join(ddir, f"{0:020d}.json"))
    with open(os.path.join(ddir, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(out))
    os.remove(os.path.join(ddir, f"{0:020d}.crc"))  # content changed
    with pytest.raises(DeltaMirrorError, match="futuristicEncoding"):
        read_delta_snapshot(spark, t.path)


def test_native_dv_composes_with_cdf(spark):
    """CDF + native DV mirror: a MoR delete's commit carries BOTH the
    deletionVector re-add and protocol cdc actions; per the CDF rules
    readers use the cdc files exclusively, so the change feed shows
    exactly the masked rows while the snapshot read applies the
    bitmap."""
    df = spark.range(0, 60).withColumn("v", (F.col("id") * 2).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-dv-cdf"),
        df,
        enable_cdf=True,
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("id") % 7 == 0)
    from delta_lake_play_spark.table.delta_log import read_delta_changes

    ch = read_delta_changes(spark, t.path, 1, 1)
    got = sorted((r.id, r._change_type) for r in ch.collect())
    assert got == [(i, "delete") for i in range(0, 60, 7)]
    acts = _actions(t, 1)
    assert any("cdc" in a for a in acts)
    assert any(a.get("add", {}).get("deletionVector") for a in acts)
    snap = read_delta_snapshot(spark, t.path)
    assert snap.count() == 60 - len(range(0, 60, 7))


def test_concurrent_syncers_native_dv_race_benignly(spark):
    """Two threads syncing the same native-DV mirror concurrently:
    identical deterministic bin names + os.link first-wins means both
    succeed, the log is written once, and replay is exact — the
    'concurrent syncers race benignly' claim extended to DV bins."""
    from concurrent.futures import ThreadPoolExecutor

    from delta_lake_play_spark.table.delta_log import sync

    df = spark.range(0, 150).withColumn("v", (F.col("id") * 3).cast("long"))
    # mirror OFF at create: commits accumulate unmirrored, then two
    # racing backfill sync() calls must both succeed
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-dv-race"),
        df.repartition(3),
        delta_mirror=False,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("id") % 7 == 0)
    t.delete_mor(F.col("id") % 11 == 3)
    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(lambda _: sync(t), [0, 1]))
    assert got == [2, 2]
    ddir = os.path.join(t.path, "_delta_log")
    jsons = [f for f in os.listdir(ddir) if f.endswith(".json")]
    assert sorted(jsons) == [f"{v:020d}.json" for v in range(3)]
    got_rows = sorted(tuple(r) for r in read_delta_snapshot(spark, t.path).collect())
    want = sorted(tuple(r) for r in t.read().collect())
    assert got_rows == want


def test_crash_between_commit_and_mirror_self_heals_native_dv(spark):
    """A native-DV commit whose mirror write 'crashed' (simulated by
    deleting the mirrored JSON + its bin) is repaired by the next
    sync: the bin regenerates byte-identically from the private DV
    state and replay matches."""
    from delta_lake_play_spark.table.delta_log import sync
    from delta_lake_play_spark.table.dv_codec import dv_file_rel_path

    df = spark.range(0, 100).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-dv-crash"),
        df.coalesce(1),
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("id") % 7 == 0)
    ddir = os.path.join(t.path, "_delta_log")
    spec = next(
        a["add"]["deletionVector"]
        for a in _actions(t, 1)
        if "add" in a and a["add"].get("deletionVector")
    )
    rel = dv_file_rel_path(spec)
    before = open(os.path.join(t.path, rel), "rb").read()
    os.remove(os.path.join(ddir, f"{1:020d}.json"))
    os.remove(os.path.join(ddir, f"{1:020d}.crc"))
    os.remove(os.path.join(t.path, rel))
    assert sync(t) == 1  # self-heal backfill
    after = open(os.path.join(t.path, rel), "rb").read()
    assert after == before  # deterministic regeneration
    got = sorted(tuple(r) for r in read_delta_snapshot(spark, t.path).collect())
    assert got == sorted(tuple(r) for r in t.read().collect())


def test_multipart_classic_checkpoint_read(spark):
    """External delta-spark writers split large classic checkpoints
    into <v>.checkpoint.<part>.<total>.parquet files; this reader
    must (a) replay from a complete part set with the JSON prefix
    gone, (b) find the protocol in whichever part carries it,
    (c) IGNORE an incomplete part set rather than replay half a
    table, and (d) GC every part of a superseded checkpoint."""
    import pyarrow.parquet as pq

    from delta_lake_play_spark.table.delta_log import (
        _checkpoint_versions,
        latest_mirror_protocol,
    )

    t = _mk(spark, "dl-mpcp")
    for i in range(12):
        t.append(
            spark.range(2000 + i, 2001 + i).withColumn(
                "v", F.lit(0).cast("long")
            )
        )
    ddir = os.path.join(t.path, "_delta_log")
    single = os.path.join(ddir, f"{10:020d}.checkpoint.parquet")
    assert os.path.exists(single)
    # split the writer's single-part checkpoint into 2 parts, exactly
    # as an external multi-part writer would lay the same rows out
    tbl = pq.read_table(single)
    half = max(1, tbl.num_rows // 2)
    pq.write_table(
        tbl.slice(0, half),
        os.path.join(ddir, f"{10:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        tbl.slice(half),
        os.path.join(ddir, f"{10:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    os.unlink(single)
    lc = json.load(open(os.path.join(ddir, "_last_checkpoint")))
    lc["parts"] = 2
    json.dump(lc, open(os.path.join(ddir, "_last_checkpoint"), "w"))
    for v in range(0, 10):
        os.unlink(os.path.join(ddir, f"{v:020d}.json"))

    assert _checkpoint_versions(ddir)[10].endswith(
        ".checkpoint.0000000001.0000000002.parquet"
    )
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    proto = latest_mirror_protocol(t)
    assert proto is not None and proto.get("minReaderVersion")

    # (c) incomplete set: hide part 2 — version 10 must drop out of
    # the checkpoint map entirely (replay then fails loudly rather
    # than returning half a table)
    p2 = os.path.join(ddir, f"{10:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    os.rename(p2, p2 + ".hidden")
    assert 10 not in _checkpoint_versions(ddir)
    os.rename(p2 + ".hidden", p2)

    # (d) GC: a newer checkpoint supersedes the multi-part one; all
    # parts must be reclaimed once expired
    t.append(spark.range(5000, 5001).withColumn("v", F.lit(0).cast("long")))
    t.checkpoint_mirror()
    deleted = t.cleanup_log_mirror(retention_ms=0)
    assert sum(".checkpoint.00000000" in d for d in deleted) == 2
    assert not [
        fn for fn in os.listdir(ddir) if ".checkpoint.0000000001." in fn
    ]
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_duckdb_sql_reader_multipart_checkpoint(spark):
    """SQL replay through a MULTI-PART classic checkpoint (the
    external-writer split form): every part parquet contributes its
    actions at the checkpoint version; JSON prefix deleted. Pure
    DuckDB SQL — zero shared reader code."""
    import duckdb

    import pyarrow.parquet as pq

    df = spark.range(0, 150).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-duck-mp"), df.repartition(3), delta_mirror=True
    )
    t.append(spark.range(150, 200).withColumn("v", (F.col("id") * 3).cast("long")))
    t.delete(F.col("id") % 9 == 0)
    cp = t.checkpoint_mirror()
    t.append(spark.range(200, 230).withColumn("v", (F.col("id") * 3).cast("long")))
    ddir = os.path.join(t.path, "_delta_log")
    single = os.path.join(ddir, f"{cp:020d}.checkpoint.parquet")
    tbl = pq.read_table(single)
    half = max(1, tbl.num_rows // 2)
    parts = []
    for i, sl in enumerate((tbl.slice(0, half), tbl.slice(half)), start=1):
        pth = os.path.join(
            ddir, f"{cp:020d}.checkpoint.{i:010d}.{2:010d}.parquet"
        )
        pq.write_table(sl, pth)
        parts.append(pth)
    os.unlink(single)
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            if int(fn.split(".")[0]) <= cp:
                os.remove(os.path.join(ddir, fn))
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    con = duckdb.connect()
    live = _duck_live_paths(
        con,
        [(f"parquet@{cp}", parts[0]), (f"parquet@{cp}", parts[1]), ("json", jsons)],
    )
    _duck_compare(con, t, live)
    con.close()
    # and the Python protocol reader agrees on the same layout
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_multipart_checkpoint_writer_roundtrip(spark):
    """checkpoint_mirror(parts=N) writes the split classic form this
    reader (and external ones) consume: N part files, _last_checkpoint
    carries the spec's parts field, replay works with the JSON prefix
    gone, and the DuckDB-SQL reconciliation agrees."""
    import duckdb

    t = _mk(spark, "dl-mpw")
    t.append(spark.range(300, 350).withColumn("v", F.lit(1).cast("long")))
    t.delete(F.col("id") % 7 == 0)
    cp = t.checkpoint_mirror(parts=3)
    t.append(spark.range(400, 420).withColumn("v", F.lit(2).cast("long")))
    ddir = os.path.join(t.path, "_delta_log")
    names = [
        fn for fn in os.listdir(ddir) if f"{cp:020d}.checkpoint." in fn
    ]
    assert sorted(names) == [
        f"{cp:020d}.checkpoint.{i:010d}.{3:010d}.parquet" for i in (1, 2, 3)
    ]
    lc = json.load(open(os.path.join(ddir, "_last_checkpoint")))
    assert lc["version"] == cp and lc["parts"] == 3
    for v in range(0, cp + 1):
        fp = os.path.join(ddir, f"{v:020d}.json")
        if os.path.exists(fp):
            os.remove(fp)
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    jsons = ", ".join(f"'{c}'" for c in _duck_json_sources(ddir))
    con = duckdb.connect()
    live = _duck_live_paths(
        con,
        [(f"parquet@{cp}", os.path.join(ddir, n)) for n in sorted(names)]
        + [("json", jsons)],
    )
    _duck_compare(con, t, live)
    con.close()


def test_multipart_resplit_crash_does_not_shadow_complete_set(spark):
    """A crashed re-split (parts 1-2 of a 3-part rewrite) at the same
    version must not shadow the COMPLETE 2-part set already on disk:
    grouping is per (version, total)."""
    import pyarrow.parquet as pq

    from delta_lake_play_spark.table.delta_log import _checkpoint_versions

    t = _mk(spark, "dl-mpshadow")
    t.append(spark.range(300, 320).withColumn("v", F.lit(1).cast("long")))
    cp = t.checkpoint_mirror(parts=2)
    ddir = os.path.join(t.path, "_delta_log")
    p1 = os.path.join(ddir, f"{cp:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    # simulate the crashed 3-part rewrite: parts 1-2 of 3, no part 3
    for i in (1, 2):
        pq.write_table(
            pq.read_table(p1),
            os.path.join(
                ddir, f"{cp:020d}.checkpoint.{i:010d}.{3:010d}.parquet"
            ),
        )
    rep = _checkpoint_versions(ddir)[cp]
    assert rep.endswith(".checkpoint.0000000001.0000000002.parquet")
    for v in range(0, cp + 1):
        fp = os.path.join(ddir, f"{v:020d}.json")
        if os.path.exists(fp):
            os.remove(fp)
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_latest_protocol_prefers_highest_version_not_artifact_kind(spark):
    """A surviving OLD compaction carrying the v0 protocol must not
    mask a newer checkpoint's upgraded protocol — candidates compare
    by version, and the vacuum gate sees the upgrade."""
    from delta_lake_play_spark.table.delta_log import (
        DeltaMirrorError,
        latest_mirror_protocol,
    )

    t = VersionedTable.create(
        spark,
        temp_table_path("dl-protoorder"),
        spark.range(0, 50).withColumn("v", F.lit(0).cast("long")),
        delta_mirror=True,
        vacuum_protocol_check=True,
    )
    for i in range(4):
        t.append(spark.range(100 + i, 101 + i).withColumn("v", F.lit(0).cast("long")))
    from delta_lake_play_spark.table.delta_log import write_log_compaction

    write_log_compaction(t, 0, 2)  # minor compaction carrying the v0 protocol
    ddir = os.path.join(t.path, "_delta_log")
    import pyarrow as pa
    import pyarrow.parquet as pq

    cp = t.checkpoint_mirror()
    # simulate an EXTERNAL writer's upgraded checkpoint: rewrite the
    # checkpoint's protocol row to name a feature we don't implement
    cp_path = os.path.join(ddir, f"{cp:020d}.checkpoint.parquet")
    tbl = pq.read_table(cp_path)
    rows = tbl.to_pylist()
    for r in rows:
        if r.get("protocol") and r["protocol"].get("minReaderVersion"):
            r["protocol"]["writerFeatures"] = list(
                r["protocol"].get("writerFeatures") or []
            ) + ["externalFutureFeature"]
    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), cp_path)
    # delete every raw JSON: only the compaction (old protocol) and
    # the checkpoint (upgraded protocol) remain as candidates
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")) and "compacted" not in fn:
            os.remove(os.path.join(ddir, fn))
    got = latest_mirror_protocol(t)
    assert "externalFutureFeature" in (got.get("writerFeatures") or [])
    with pytest.raises(DeltaMirrorError, match="externalFutureFeature"):
        t.vacuum(retain_last=1, min_age_seconds=0)


def test_orphan_multipart_parts_are_gc_eligible(spark):
    """An incomplete part set below the latest checkpoint (crashed
    write / interrupted cleanup) must be reclaimed by the next
    cleanup, not leak forever."""
    import pyarrow.parquet as pq

    t = _mk(spark, "dl-mporphan")
    t.append(spark.range(300, 320).withColumn("v", F.lit(1).cast("long")))
    cp1 = t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")
    # orphan: part 1-of-2 only, at the older checkpoint's version
    orphan = os.path.join(
        ddir, f"{cp1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
    )
    pq.write_table(
        pq.read_table(os.path.join(ddir, f"{cp1:020d}.checkpoint.parquet")),
        orphan,
    )
    t.append(spark.range(400, 410).withColumn("v", F.lit(2).cast("long")))
    t.checkpoint_mirror()  # newer checkpoint supersedes cp1
    deleted = t.cleanup_log_mirror(retention_ms=0)
    assert os.path.basename(orphan) in deleted
    assert not os.path.exists(orphan)


def test_orphan_multipart_at_latest_checkpoint_version(spark):
    """An incomplete crashed re-split AT the latest checkpoint version
    is reclaimed (a complete representative for that version exists),
    while a COMPLETE multi-part set at that version — possibly the
    representative itself — is never touched."""
    import pyarrow.parquet as pq

    t = _mk(spark, "dl-mporphan-latest")
    t.append(spark.range(300, 320).withColumn("v", F.lit(1).cast("long")))
    cp = t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")
    src = os.path.join(ddir, f"{cp:020d}.checkpoint.parquet")
    # complete 1-of-1 multi-part set at the LATEST checkpoint version
    complete = os.path.join(
        ddir, f"{cp:020d}.checkpoint.{1:010d}.{1:010d}.parquet"
    )
    # incomplete re-split at the same version: part 1-of-3 only
    orphan = os.path.join(
        ddir, f"{cp:020d}.checkpoint.{1:010d}.{3:010d}.parquet"
    )
    pq.write_table(pq.read_table(src), complete)
    pq.write_table(pq.read_table(src), orphan)
    deleted = t.cleanup_log_mirror(retention_ms=0)
    assert os.path.basename(orphan) in deleted
    assert not os.path.exists(orphan)
    assert os.path.exists(complete)
    # the mirror still reconciles to the private snapshot after the sweep
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_multipart_parts_refused_on_v2_policy(spark):
    """parts= is the multi-part CLASSIC form; silently dropping it on
    a v2-policy table would break the caller's layout expectations."""
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-mpv2"),
        spark.range(0, 20).withColumn("v", F.lit(0).cast("long")),
        delta_mirror=True,
        checkpoint_policy="v2",
    )
    with pytest.raises(ValueError, match="CLASSIC"):
        t.checkpoint_mirror(parts=2)


def test_update_mor_mirrors_natively_and_replays(spark):
    """UPDATE_MOR on a native-DV mirrored table: one commit carries
    BOTH the new file's add and the masked files' DV re-adds; the
    protocol reader applies the bitmaps and returns the updated
    snapshot. JSON prefix deleted after a checkpoint to prove the
    checkpointed DV survives too."""
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-umor"),
        spark.range(0, 100).withColumn("v", (F.col("id") * 2).cast("long")),
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.update_mor({"v": F.lit(-1).cast("long")}, F.col("id") % 10 == 3)
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())
    got = {tuple(r) for r in read_delta_snapshot(spark, t.path).collect()}
    assert (3, -1) in got and (3, 6) not in got
    t.checkpoint_mirror()
    ddir = os.path.join(t.path, "_delta_log")
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and not fn.startswith(("_", ".")):
            os.remove(os.path.join(ddir, fn))
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


def test_update_mor_mirrors_with_materialization(spark):
    """Default (materialize) mirror policy: the UPDATE_MOR commit's
    masked survivors materialize for external readers while the
    private read stays mask-based; both see the same rows."""
    t = VersionedTable.create(
        spark,
        temp_table_path("dl-umor-mat"),
        spark.range(0, 80).withColumn("v", (F.col("id") * 2).cast("long")),
        delta_mirror=True,
    )
    t.update_mor({"v": F.lit(-7).cast("long")}, F.col("id") < 5)
    assert _canon(read_delta_snapshot(spark, t.path)) == _canon(t.to_df())


@pytest.mark.parametrize("mirror", [True, False], ids=["mirrored", "unmirrored"])
@pytest.mark.parametrize("verb", ["append", "merge", "delete"])
def test_commit_opens_one_private_entry(spark, monkeypatch, verb, mirror):
    """A commit opens only the entry its attempt reads: the mirror
    diffs the entry the commit just linked against that predecessor,
    both handed over from memory, so a mirrored commit opens no more
    private entries than an unmirrored one."""
    df = spark.range(0, 20).withColumn("v", (F.col("id") * 3).cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("dl-opens"), df, delta_mirror=mirror
    )
    t.append(df.limit(1))
    run = {
        "append": lambda i: t.append(df.limit(1)),
        "merge": lambda i: t.merge(df.where(F.col("id") == i), key="id"),
        "delete": lambda i: t.delete(F.col("id") == i),
    }[verb]
    reads = []
    real = VersionedTable._read_log_raw

    def counting(self, version):
        reads.append(version)
        return real(self, version)

    monkeypatch.setattr(VersionedTable, "_read_log_raw", counting)
    for i in range(3):
        run(i)
    assert len(reads) == 3, reads
