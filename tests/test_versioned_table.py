"""Versioned table layer: the canonical DML sequence from FIXTURES.md
(mirroring api.py:88-107 semantics) plus invariants."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_play_spark.table.versioned import (
    MergeSchemaError,
    MergeSourceKeyError,
    VersionConflictError,
    VersionedTable,
    _dv_count as dv_count,
    _dv_sidecars as dv_sidecars,
    temp_table_path,
)

SEED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("firstname", T.StringType(), False),
        T.StructField("lastname", T.StringType(), False),
    ]
)
SEED = [(1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")]


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def names(spark):
    return VersionedTable.create(
        spark, temp_table_path("names-test"), spark.createDataFrame(SEED, SEED_SCHEMA)
    )


def test_canonical_dml_sequence(spark, names):
    # merge upsert: update id=2, insert id=4 (api.py:92-102)
    src = spark.createDataFrame(
        [(2, "Alice", "Smith"), (4, "Eve", "Adams")], SEED_SCHEMA
    )
    names.merge(src, key="id")
    assert rows(names.to_df()) == [
        (1, "James", "Bond"),
        (2, "Alice", "Smith"),
        (3, "Joe", "Bloggs"),
        (4, "Eve", "Adams"),
    ]
    # delete id IN (1, 4) (api.py:107, safe isin form)
    names.delete(F.col("id").isin([1, 4]))
    assert rows(names.to_df()) == [(2, "Alice", "Smith"), (3, "Joe", "Bloggs")]
    # snapshots at versions 0/1/2 + history (api.py:60-67)
    assert rows(names.read(version=0)) == sorted(SEED)
    assert names.read(version=1).count() == 4
    hist = {r["version"]: r["operation"] for r in names.history().collect()}
    assert hist == {0: "CREATE", 1: "MERGE", 2: "DELETE"}


def test_merge_duplicate_source_keys_raise(spark, names):
    dup = spark.createDataFrame([(2, "A", "B"), (2, "C", "D")], SEED_SCHEMA)
    with pytest.raises(MergeSourceKeyError):
        names.merge(dup, key="id")


def test_time_travel_immutable_under_later_writes(spark, names):
    names.delete(F.col("id") == 1)
    v1 = rows(names.read(version=1))
    names.delete(F.col("id") == 2)
    assert rows(names.read(version=1)) == v1  # README.md:9 semantics
    assert names.latest_version() == 2


def test_timestamp_travel(spark, names):
    names.delete(F.col("id") == 1)  # v1
    ts_v1 = {r["version"]: r["timestamp"] for r in names.history().collect()}[1]
    names.delete(F.col("id") == 2)  # v2
    assert rows(names.read(timestamp=ts_v1)) == rows(names.read(version=1))


def test_restore_and_vacuum(spark, names):
    names.append(spark.createDataFrame([(4, "Eve", "Adams")], SEED_SCHEMA))  # v1
    names.restore(0)  # v2 — metadata-only, re-references v0's files
    assert rows(names.to_df()) == sorted(SEED)
    dropped = names.vacuum(retain_last=1, min_age_seconds=0)
    # v2 references v0's files, so vacuum may only reclaim v1's
    # private appended file — v0 stays readable through shared files.
    assert dropped == [1]
    assert rows(names.to_df()) == sorted(SEED)  # latest survives
    assert rows(names.read(version=0)) == sorted(SEED)  # shared files survive
    assert names.history().count() == 3  # log survives vacuum
    with pytest.raises(Exception):
        names.read(version=1).collect()  # v1's private rewrite is gone


def test_restore_writes_no_data(spark, names):
    names.delete(F.col("id") == 1)  # v1
    dirs_before = {d for d in os.listdir(names.path) if d != "_log"}
    names.restore(0)  # v2
    dirs_after = {d for d in os.listdir(names.path) if d != "_log"}
    assert dirs_before == dirs_after  # no new data directory
    assert [f["path"] for f in names._read_log(2)["files"]] == [
        f["path"] for f in names._read_log(0)["files"]
    ]


def test_dml_rewrites_only_touched_files(spark):
    """File-granular copy-on-write: a DELETE hitting one file's key
    range must carry every other file forward by reference (identical
    path in the next version's log entry)."""
    df = spark.range(0, 1000).withColumn("k", F.col("id") % 1000)
    t = VersionedTable.create(
        spark, temp_table_path("cow"), df.repartitionByRange(8, "id")
    )
    before = {f["path"] for f in t._read_log(0)["files"]}
    assert len(before) == 8
    v = t.delete(F.col("id") == 5)  # lives in exactly one range file
    after = {f["path"] for f in t._read_log(v)["files"]}
    assert len(before & after) == 7  # 7 files carried by reference
    assert t.to_df().count() == 999
    # Same invariant for MERGE: one key touches one file.
    src = spark.createDataFrame([(7, 7000), (2000, 1)], "id long, k long")
    v2 = t.merge(src, key="id")
    after2 = {f["path"] for f in t._read_log(v2)["files"]}
    assert len(after & after2) >= 6
    got = {(r.id, r.k) for r in t.to_df().filter(F.col("id").isin(7, 2000)).collect()}
    assert got == {(7, 7000), (2000, 1)}


def test_delete_keeps_null_predicate_rows(spark):
    """SQL DELETE removes only TRUE-predicate rows; NULL stays."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, qty int"
    )
    t = VersionedTable.create(spark, temp_table_path("delnull"), df)
    t.delete(F.col("qty") > 20)
    assert rows(t.to_df()) == [(1, 10), (2, None)]


def test_concurrent_writer_conflict_retries(spark, names):
    """Optimistic concurrency: if another writer lands our target
    version between version-pick and log-link, the DML retries
    against the new latest instead of failing or corrupting."""
    import json as _json

    # A second writer has already committed version 1 (re-using v0's
    # file list — a metadata commit).
    entry = names._read_log(0)
    rogue = dict(entry, version=1, operation="ROGUE")
    with open(os.path.join(names._log_dir, f"{1:020d}.json"), "w") as fh:
        _json.dump(rogue, fh)
    # Our writer's first snapshot read is stale (doesn't see the
    # rogue commit yet): its commit targets base+1 = 1 → the log link
    # collides with the rogue's → the append must retry from the new
    # latest. (Commits pin base_version+1 — a stale base can never
    # silently win a later version slot; see _commit_files.)
    calls = {"n": 0}
    real_latest = type(names).latest_version

    def stale_once():
        calls["n"] += 1
        if calls["n"] == 1:
            return 0
        return real_latest(names)

    names.latest_version = stale_once
    v = names.append(spark.createDataFrame([(9, "New", "Comer")], SEED_SCHEMA))
    assert calls["n"] >= 2  # the conflict path actually ran
    assert v == 2
    got = rows(names.to_df())
    assert (9, "New", "Comer") in got and len(got) == 4


def test_create_if_absent_does_not_reseed(spark):
    path = temp_table_path("cia-test")
    VersionedTable.create_if_absent(spark, path, spark.createDataFrame(SEED, SEED_SCHEMA))
    t2 = VersionedTable.create_if_absent(
        spark, path, spark.createDataFrame([], SEED_SCHEMA)
    )
    assert t2.to_df().count() == 3
    assert t2.latest_version() == 0


def test_merge_schema_drift_raises_and_evolves(spark):
    from pyspark.sql import types as T

    from delta_lake_play_spark.table.versioned import (
        MergeSchemaError,
        VersionedTable,
        temp_table_path,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType(), False),
        ]
    )
    t = VersionedTable.create(
        spark, temp_table_path("drift"), spark.createDataFrame([(1, "a")], schema)
    )
    drifted = spark.createDataFrame(
        [(2, "b", "extra")], "id int, name string, note string"
    )
    with pytest.raises(MergeSchemaError, match="extra=\\['note'\\]"):
        t.merge(drifted, key="id")
    # Evolution: new column appears, old rows null-filled.
    v = t.merge(drifted, key="id", evolve_schema=True)
    rows = {(r.id, r.name, r.note) for r in t.read(version=v).collect()}
    assert rows == {(1, "a", None), (2, "b", "extra")}
    # Missing-column source also evolves (null-filled).
    small = spark.createDataFrame([(3, "c")], "id int, name string")
    v2 = t.merge(small, key="id", evolve_schema=True)
    rows2 = {(r.id, r.name, r.note) for r in t.read(version=v2).collect()}
    assert (3, "c", None) in rows2 and len(rows2) == 3


def test_check_constraints_gate_every_commit(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from delta_lake_play_spark.table.versioned import (
        ConstraintViolationError,
        VersionedTable,
        temp_table_path,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("qty", T.IntegerType(), False),
        ]
    )
    checks = {"qty_positive": "qty > 0", "id_known": "id < 1000"}
    # CREATE with violating seed rows is itself refused.
    with pytest.raises(ConstraintViolationError, match="qty_positive"):
        VersionedTable.create(
            spark, temp_table_path("chk"), spark.createDataFrame([(1, -5)], schema),
            constraints=checks,
        )
    t = VersionedTable.create(
        spark, temp_table_path("chk2"), spark.createDataFrame([(1, 5)], schema),
        constraints=checks,
    )
    # Appending a violating row is refused; the table is untouched.
    with pytest.raises(ConstraintViolationError, match="id_known"):
        t.append(spark.createDataFrame([(5000, 2)], schema))
    assert t.latest_version() == 0
    # Valid DML still flows.
    t.append(spark.createDataFrame([(2, 7)], schema))
    assert t.to_df().count() == 2
    # UPDATE that would break a constraint is refused too.
    with pytest.raises(ConstraintViolationError, match="qty_positive"):
        t.update({"qty": F.lit(-1)}, F.col("id") == 2)


def test_schema_evolution_leaves_untouched_files_unrewritten(spark):
    """Evolving MERGE must not rewrite files that hold no matched key:
    the new column materializes only in the logged schema, and carried
    files read back null-filled."""
    df = spark.range(0, 100).withColumn("name", F.concat(F.lit("n"), F.col("id")))
    t = VersionedTable.create(
        spark, temp_table_path("evolve-carry"), df.repartitionByRange(4, "id")
    )
    before = {f["path"] for f in t._read_log(0)["files"]}
    src = spark.createDataFrame([(5, "five", "NEW")], "id long, name string, note string")
    v = t.merge(src, key="id", evolve_schema=True)
    after = {f["path"] for f in t._read_log(v)["files"]}
    assert len(before & after) == 3  # 3 of 4 range files carried as-is
    out = t.to_df()
    assert out.filter(F.col("id") == 5).first()["note"] == "NEW"
    # rows from carried (pre-evolution) files read as null for the new col
    assert out.filter(F.col("note").isNull()).count() == 99


def test_shallow_clone_shares_files_and_diverges(spark):
    """clone_to is metadata-only (clone v0 references the source's
    physical files), and later DML on the clone is invisible to the
    source — and vice versa."""
    df = spark.range(0, 1000).withColumn("k", F.col("id") % 7)
    t = VersionedTable.create(
        spark, temp_table_path("clone-src"), df.repartitionByRange(8, "id")
    )
    src_files = {t._abs(f["path"]) for f in t._read_log(0)["files"]}
    clone = t.clone_to(temp_table_path("clone-dst"))
    clone_files = {f["path"] for f in clone._read_log(0)["files"]}
    assert clone_files == src_files  # zero data copied
    assert not os.path.exists(os.path.join(clone.path, "c-0-00000000"))
    assert rows(clone.to_df()) == rows(t.to_df())

    # diverge the clone: COW rewrites only touched files, new files
    # land under the CLONE's directory, source content is unchanged
    v = clone.delete(F.col("id") == 5)
    after = {f["path"] for f in clone._read_log(v)["files"]}
    assert len(after & src_files) == 7
    for p in after - src_files:
        assert p.startswith(clone.path) or not p.startswith("/")
    assert t.to_df().count() == 1000
    assert clone.to_df().count() == 999

    # diverge the source: clone stays pinned to the cloned snapshot
    t.delete(F.col("id") < 100)
    assert clone.to_df().count() == 999

    # clone's own vacuum never reclaims the shared source files
    clone.append(spark.createDataFrame([(5000, 1)], "id long, k long"))
    clone.vacuum(retain_last=1, min_age_seconds=0)
    assert all(os.path.exists(p) for p in src_files)
    assert t.to_df().count() == 900


def test_racing_clones_to_one_path_keep_the_first(spark, names, monkeypatch):
    """Two clones racing to one destination: the loser raises and the
    winner's version 0 stays intact and readable. The race window is
    forced: version 0 of the destination appears (the winner commits)
    between the loser's existence check and its write."""
    names.merge(spark.createDataFrame([(4, "Eve", "Adams")], SEED_SCHEMA), key="id")
    dest = temp_table_path("clone-race")
    real_exists = VersionedTable.exists
    raced = []

    def exists_then_lose_the_race(self):
        seen = real_exists(self)
        if self.path == dest and not raced:
            raced.append(True)
            names.clone_to(dest, version=0)  # the winner lands first
        return seen

    monkeypatch.setattr(VersionedTable, "exists", exists_then_lose_the_race)
    with pytest.raises(VersionConflictError):
        names.clone_to(dest)
    monkeypatch.undo()
    assert raced
    winner = VersionedTable(spark, dest)
    assert winner.latest_version() == 0
    v0 = winner._read_log(0)
    assert (v0["operation"], v0["operationParameters"]["sourceVersion"]) == (
        "CLONE",
        0,
    )
    assert rows(winner.to_df()) == sorted(SEED)


def test_clone_of_partitioned_table_reads_partitions(spark):
    """A clone of a hive-partitioned table resolves partition columns
    through the structural commit-dir basePath (the file list points
    into the source's directory)."""
    df = spark.range(0, 200).withColumn("p", (F.col("id") % 3).cast("string"))
    t = VersionedTable.create(
        spark, temp_table_path("clone-part-src"), df, partition_by=["p"]
    )
    clone = t.clone_to(temp_table_path("clone-part-dst"))
    assert clone.partition_columns() == ["p"]
    got = {(r.p, r.n) for r in clone.to_df().groupBy("p").count().withColumnRenamed("count", "n").collect()}
    assert got == {("0", 67), ("1", 67), ("2", 66)}


def test_overwrite_where_replaces_slice_atomically(spark):
    """replaceWhere swaps exactly the predicate slice, carries
    untouched files, and rejects out-of-slice source rows."""
    df = spark.range(0, 1000).withColumn("day", (F.col("id") % 10).cast("int"))
    t = VersionedTable.create(
        spark, temp_table_path("rw"), df.repartition(10, "day")
    )
    before = {f["path"] for f in t._read_log(0)["files"]}
    backfill = spark.createDataFrame(
        [(9001, 3), (9002, 3)], "id long, day int"
    )
    v = t.overwrite_where(backfill, F.col("day") == 3)
    out = t.to_df()
    assert out.filter(F.col("day") == 3).count() == 2
    assert out.filter(F.col("day") != 3).count() == 900
    after = {f["path"] for f in t._read_log(v)["files"]}
    assert before & after  # untouched files carried by reference

    with pytest.raises(ValueError, match="outside predicate slice"):
        t.overwrite_where(
            spark.createDataFrame([(1, 4)], "id long, day int"),
            F.col("day") == 3,
        )


def test_merge_delete_clause_applies_tombstones(spark, names):
    """whenMatchedDelete: delete-marked source rows remove their
    matched target rows and are never inserted (matched or not)."""
    src = spark.createDataFrame(
        [(2, "Alice", "Smith"), (3, "__DEL__", "x"), (9, "__DEL__", "x")],
        SEED_SCHEMA,
    )
    names.merge(src, key="id", delete_matched_where=F.col("firstname") == "__DEL__")
    got = rows(names.to_df())
    assert got == [(1, "James", "Bond"), (2, "Alice", "Smith")]


def test_delete_mor_writes_no_data_and_masks_rows(spark):
    """Deletion vectors: the MoR delete commit references the SAME
    physical files (zero data written), reads mask the positions,
    time travel still sees them, CoW rewrites honor the mask, and
    OPTIMIZE hardens the vectors away."""
    df = spark.range(0, 1000).withColumn("k", F.col("id") % 10)
    t = VersionedTable.create(
        spark, temp_table_path("mor"), df.repartitionByRange(8, "id")
    )
    before = {f["path"] for f in t._read_log(0)["files"]}
    v1 = t.delete_mor(F.col("id").isin(5, 500, 999))
    e1 = t._read_log(v1)
    assert {f["path"] for f in e1["files"]} == before  # no new data files
    assert sum(dv_count(f) for f in e1["files"]) == 3
    assert e1["num_rows"] == 997
    assert t.to_df().count() == 997
    assert t.to_df().filter(F.col("id").isin(5, 500, 999)).count() == 0
    assert t.read(version=0).count() == 1000  # time travel unaffected

    # change feed sees the masked rows as deletes
    ch = t.changes(0, v1)
    assert {(r.id, r._change_type) for r in ch.collect()} == {
        (5, "delete"), (500, "delete"), (999, "delete"),
    }

    # a CoW delete on a DV'd file must not resurrect masked rows
    v2 = t.delete(F.col("id") == 6)  # same file as id=5
    assert t.to_df().count() == 996
    assert t.to_df().filter(F.col("id") == 5).count() == 0

    # OPTIMIZE hardens: fresh files, no DVs, same content
    v3 = t.optimize(target_files=4)
    e3 = t._read_log(v3)
    assert all(not f.get("dv") for f in e3["files"])
    assert t.to_df().count() == 996


def test_delete_mor_wide_delete_stays_off_driver(spark):
    """A broad MoR delete (~50k matched rows) must keep the log entry
    O(#files) — positions live in a parquet sidecar, never inline —
    and repeated deletes must not double-count already-masked rows."""
    df = spark.range(0, 60_000).withColumn("k", F.col("id") % 100)
    t = VersionedTable.create(
        spark, temp_table_path("mor-wide"), df.repartitionByRange(8, "id")
    )
    v1 = t.delete_mor(F.col("id") >= 10_000)  # masks 50k rows
    e1 = t._read_log(v1)
    assert sum(dv_count(f) for f in e1["files"]) == 50_000
    assert e1["num_rows"] == 10_000
    # log entry stays small: positions are sidecar-resident
    log_bytes = os.path.getsize(
        os.path.join(t._log_dir, f"{v1:020d}.json")
    )
    assert log_bytes < 20_000, f"log entry {log_bytes}B — positions inlined?"
    sidecars = {s for f in e1["files"] for s in dv_sidecars(f)}
    assert len(sidecars) == 1
    assert t.to_df().count() == 10_000
    # overlapping re-delete: only the 5k NEW rows join the DV
    v2 = t.delete_mor(F.col("id") >= 5_000)
    e2 = t._read_log(v2)
    assert sum(dv_count(f) for f in e2["files"]) == 55_000
    assert e2["num_rows"] == 5_000
    assert t.to_df().count() == 5_000
    # vacuum keeps sidecars referenced by retained versions
    t.vacuum(retain_last=1, min_age_seconds=0)
    assert t.to_df().count() == 5_000


def test_convert_references_source_files_without_rewrite(spark, sf_dir, tmp_path):
    """CONVERT must be metadata-only: version 0's file list points at
    the ORIGINAL parquet files (absolute paths into the source dir),
    and a later DELETE rewrites only touched files while untouched
    source files stay referenced in place."""
    import os

    from delta_lake_play_spark.sources.catalog import load_table
    from delta_lake_play_spark.table.versioned import VersionedTable

    src_dir = str(tmp_path / "plain")
    load_table(spark, sf_dir, "customer").repartitionByRange(
        4, "c_custkey"
    ).write.parquet(src_dir)
    t = VersionedTable.convert(spark, str(tmp_path / "conv"), src_dir)

    v0 = t._read_log(0)
    assert v0["operation"] == "CONVERT"
    assert len(v0["files"]) == 4
    assert all(f["path"].startswith(src_dir + os.sep) for f in v0["files"])
    assert t.to_df().count() == spark.read.parquet(src_dir).count()

    # Range-partitioned layout => the low-key predicate touches only
    # SOME files; the rest must remain the original source files.
    t.delete(F.col("c_custkey") <= 5)
    v1 = t._read_log(1)
    kept_src = [f["path"] for f in v1["files"] if f["path"].startswith(src_dir)]
    assert kept_src, "untouched source files must carry forward by reference"
    got = {r["c_custkey"] for r in t.to_df().select("c_custkey").collect()}
    want = {
        r["c_custkey"]
        for r in spark.read.parquet(src_dir)
        .where(~(F.col("c_custkey") <= 5))
        .collect()
    }
    assert got == want


def test_partitioned_table_full_dml_sequence(spark):
    """Every DML writes hive-partitioned files on a partitioned table
    and the partition column survives merge, update, MoR delete, and
    time travel."""
    df = spark.range(0, 600).withColumn(
        "p", (F.col("id") % 3).cast("string")
    ).withColumn("v", F.col("id") * 10)
    t = VersionedTable.create(
        spark, temp_table_path("part-dml"), df, partition_by=["p"]
    )
    # merge: update half of p=0, insert new rows into p=3
    src = (
        spark.range(0, 100)
        .withColumn("id", F.col("id") * 6)  # all land in p=0
        .withColumn("p", F.lit("0"))
        .withColumn("v", F.lit(-1).cast("long"))
        .unionByName(
            spark.range(1000, 1050)
            .withColumn("p", F.lit("3"))
            .withColumn("v", F.col("id"))
        )
    )
    t.merge(src, key="id")
    assert t.to_df().where("p = '3'").count() == 50
    assert t.to_df().where("v = -1").count() == 100
    # update within one partition
    t.update({"v": F.lit(7).cast("long")}, F.col("p") == "1")
    assert t.to_df().where("p = '1' AND v <> 7").count() == 0
    # MoR delete across partitions; partition column still readable
    v_before = t.latest_version()
    t.delete_mor(F.col("id") % 2 == 1)
    cur = t.to_df()
    assert cur.where("id % 2 = 1").count() == 0
    assert cur.select("p").distinct().count() == 4
    # new files all live under p=... directories
    entry_files = t._read_log(t.latest_version())["files"]
    assert all("p=" in f["path"] or f.get("dv") for f in entry_files)
    # time travel back across the partitioned commits
    assert t.read(version=v_before).where("id % 2 = 1").count() > 0


def test_manifest_spill_keeps_log_entry_small(spark, monkeypatch):
    """Past ``manifest_inline_max`` files, the commit's file list spills
    to a parquet sidecar under _log/manifests/ and the JSON entry stays
    O(1) — the 100 TB shape: a million-file snapshot must not serialize
    a million-entry JSON array per commit."""
    import json

    monkeypatch.setattr(VersionedTable, "manifest_inline_max", 4)
    df = spark.range(0, 40).withColumn("v", F.col("id") * 2)
    t = VersionedTable.create(
        spark, temp_table_path("manifest-test"), df.repartition(8)
    )
    # 8 files > 4 → spilled
    raw = json.load(open(os.path.join(t.path, "_log", f"{0:020d}.json")))
    assert "files" not in raw and raw["num_files"] == 8
    man = os.path.join(t.path, "_log", raw["filesManifest"])
    assert os.path.exists(man) and raw["filesManifest"].startswith("manifests/")
    # transparent resolution: reads, stats, DML all work off the manifest
    assert t.to_df().count() == 40
    t.delete(F.col("id") < 5)
    assert t.to_df().count() == 35
    t.append(spark.range(100, 103).withColumn("v", F.col("id") * 2))
    assert t.to_df().count() == 38
    # time travel across spilled entries
    assert t.read(version=0).count() == 40
    # restore re-references manifest-backed files
    t.restore(0)
    assert t.to_df().count() == 40
    # history sees every version; vacuum keeps manifests (under _log)
    assert t.history().count() == 4
    t.vacuum(retain_last=1, min_age_seconds=0)
    assert t.to_df().count() == 40
    assert os.path.exists(man)  # log (incl. manifests) survives vacuum


def test_manifest_small_commits_stay_inline(spark):
    import json

    df = spark.range(0, 10).withColumn("v", F.col("id"))
    t = VersionedTable.create(
        spark, temp_table_path("manifest-inline"), df.coalesce(1)
    )
    raw = json.load(open(os.path.join(t.path, "_log", f"{0:020d}.json")))
    assert "files" in raw and "filesManifest" not in raw


def test_bloom_index_prunes_point_lookups(spark):
    """High-cardinality scattered key: min/max stats prune nothing
    (every file spans the full id range), the per-file bloom does."""
    # ids shuffled across 8 files → each file's [min,max] covers ~everything
    df = (
        spark.range(0, 4000)
        .withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(8)))
        .repartition(8, "bucket")
        .drop("bucket")
        .withColumn("v", F.col("id") * 3)
    )
    t = VersionedTable.create(
        spark, temp_table_path("bloom-test"), df, bloom_filter_cols=["id"]
    )
    entry = t._read_log(0)
    schema = t._entry_schema(entry)
    assert all("id" in f.get("bloom", {}) for f in entry["files"])
    n_files = len(entry["files"])
    assert n_files >= 4
    # correctness on every probe + pruning on most: a value lives in
    # exactly one file, so bloom selection must include it and should
    # exclude most others (fp rate is low at this fill).
    pruned_counts = []
    for probe in (0, 17, 991, 2500, 3999):
        sel = t._point_files(entry, schema, "id", probe)
        pruned_counts.append(len(sel))
        got = t.read_point("id", probe).collect()
        assert [(r["id"], r["v"]) for r in got] == [(probe, probe * 3)]
    assert sum(pruned_counts) < 5 * n_files  # pruned something overall
    # min/max alone could not have pruned (scattered ids)
    for f in entry["files"]:
        fmin, fmax = f["stats"]["id"]
        assert fmin < 500 and fmax > 3500
    # absent value: bloom may fp on some files but result is exact-empty
    assert t.read_point("id", 999_999).count() == 0
    # blooms carry through DML on untouched files and recompute on new
    t.append(spark.range(10_000, 10_004).withColumn("v", F.col("id") * 3))
    e1 = t._read_log(1)
    assert all("id" in f.get("bloom", {}) for f in e1["files"])
    assert t.read_point("id", 10_001).count() == 1


def test_bloom_survives_type_widening(spark):
    """ADVICE r3 (high): merge(evolve_schema=True) widening a
    bloom-indexed column must not poison the carried files' bitmaps.
    xxhash64 is type-sensitive — probing an int-hashed bitmap with the
    widened long would falsely exclude every pre-widening file and
    read_point would silently return missing rows."""
    base = (
        spark.range(0, 2000)
        .withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(4)))
        .repartition(4, "bucket")
        .drop("bucket")
        .select(F.col("id").cast("int").alias("id"), (F.col("id") * 3).alias("v"))
    )
    t = VersionedTable.create(
        spark, temp_table_path("bloom-widen"), base, bloom_filter_cols=["id"]
    )
    # widen id int→long via an evolving merge touching ONE key: every
    # other file carries forward with its int-hashed bitmap
    src = spark.createDataFrame([(5_000_000_000, 999)], "id long, v long")
    t.merge(src, key="id", evolve_schema=True)
    assert dict(t.to_df().dtypes)["id"] == "bigint"
    entry = t._read_log(t.latest_version())
    carried_with_bloom = [
        f for f in entry["files"] if "id" in f.get("bloom", {})
    ]
    assert carried_with_bloom, "carried files lost their blooms entirely"
    # every pre-widening value must still be found (files hashed as int)
    for probe in (0, 17, 991, 1999):
        got = t.read_point("id", probe).collect()
        assert [(r["id"], r["v"]) for r in got] == [(probe, probe * 3)], probe
    # the post-widening value lives in the new long-hashed file
    assert t.read_point("id", 5_000_000_000).collect()[0]["v"] == 999
    # a long probe beyond int range can skip every int-hashed file
    assert t.read_point("id", 6_000_000_001).count() == 0
    # pruning still works post-widening (not degraded to scan-all)
    schema = t._entry_schema(entry)
    sel = t._point_files(entry, schema, "id", 17)
    assert len(sel) < len(entry["files"])


def test_symlink_manifest_cross_engine_read(spark, names):
    """The exported manifest is consumable by a FOREIGN engine: DuckDB
    reads the listed parquet files and sees exactly the snapshot."""
    import duckdb

    src = spark.createDataFrame(
        [(2, "Alice", "Smith"), (4, "Eve", "Adams")], SEED_SCHEMA
    )
    names.merge(src, key="id")
    manifest = names.export_symlink_manifest()
    paths = [line.strip() for line in open(manifest) if line.strip()]
    got = duckdb.execute(
        "SELECT id, firstname, lastname FROM read_parquet($p) ORDER BY id",
        {"p": paths},
    ).fetchall()
    assert got == [
        (1, "James", "Bond"),
        (2, "Alice", "Smith"),
        (3, "Joe", "Bloggs"),
        (4, "Eve", "Adams"),
    ]
    # earlier snapshot exports independently
    m0 = names.export_symlink_manifest(version=0)
    p0 = [line.strip() for line in open(m0) if line.strip()]
    got0 = duckdb.execute(
        "SELECT count(*) FROM read_parquet($p)", {"p": p0}
    ).fetchone()[0]
    assert got0 == 3
    # manifests survive vacuum (metadata dir), and DV-masked
    # snapshots are refused rather than exported wrong
    names.vacuum(retain_last=1, min_age_seconds=0)
    assert os.path.exists(manifest)
    names.delete_mor(F.col("id") == 2)
    with pytest.raises(ValueError, match="deletion vectors"):
        names.export_symlink_manifest()


def test_vacuum_dry_run_deletes_nothing(spark, names):
    src = spark.createDataFrame([(2, "Alice", "Smith")], SEED_SCHEMA)
    names.merge(src, key="id")  # v1 rewrites the touched file
    would = names.vacuum(retain_last=1, dry_run=True, min_age_seconds=0)
    assert would, "the superseded v0 file should be reclaimable"
    assert all(os.path.exists(p) for p in would)  # nothing deleted
    assert rows(names.read(version=0)) == sorted(SEED)  # v0 still readable
    # the real vacuum removes exactly the dry-run set
    names.vacuum(retain_last=1, min_age_seconds=0)
    assert all(not os.path.exists(p) for p in would)


def test_generated_columns_recompute_and_partition(spark):
    """GENERATED ALWAYS AS: the day column derives from ts at every
    write (writers may omit it or supply garbage — the expression
    wins), and doubles as the hive partition key."""
    from pyspark.sql import Row
    from datetime import datetime

    rows_in = [
        Row(event_id=1, ts=datetime(2024, 1, 1, 10, 0), v=1.0),
        Row(event_id=2, ts=datetime(2024, 1, 2, 11, 30), v=2.0),
        Row(event_id=3, ts=datetime(2024, 1, 2, 23, 59), v=3.0),
    ]
    t = VersionedTable.create(
        spark,
        temp_table_path("gencol"),
        spark.createDataFrame(rows_in),
        generated={"day": "date_trunc('day', ts)"},
        partition_by=["day"],
    )
    got = {r["event_id"]: r["day"] for r in t.to_df().collect()}
    assert got[1].day == 1 and got[2].day == 2 and got[3].day == 2
    # append WITHOUT the generated column — computed at write
    t.append(
        spark.createDataFrame([Row(event_id=4, ts=datetime(2024, 1, 3, 1, 0), v=4.0)])
    )
    assert t.to_df().where("event_id = 4").collect()[0]["day"].day == 3
    # append WITH a wrong value — the expression overrides it
    bad = spark.createDataFrame(
        [Row(event_id=5, ts=datetime(2024, 1, 4, 1, 0), v=5.0,
             day=datetime(1999, 1, 1))]
    )
    t.append(bad)
    assert t.to_df().where("event_id = 5").collect()[0]["day"].year == 2024
    # DML preserves the invariant (update rewrites recompute too)
    t.update({"v": F.col("v") * 10}, F.col("event_id") == 1)
    r1 = t.to_df().where("event_id = 1").collect()[0]
    assert r1["v"] == 10.0 and r1["day"].day == 1
    # partition pruning works on the generated key
    assert t.to_df().where("day = timestamp'2024-01-02 00:00:00'").count() == 2


def test_null_count_stats_prune_is_null_reads(spark):
    """nullCount footer stats: IS NULL reads open only files that
    actually contain nulls; equality probes skip all-null files."""
    from pyspark.sql import Row

    clean = spark.range(0, 400).select(
        F.col("id"), (F.col("id") * 2).cast("double").alias("v")
    ).repartition(4)
    dirty = spark.createDataFrame(
        [Row(id=1000 + i, v=None) for i in range(5)],
        "id long, v double",
    ).coalesce(1)
    t = VersionedTable.create(
        spark, temp_table_path("nullstats"), clean.unionByName(dirty).repartition(5)
    )
    t2 = VersionedTable.create(spark, temp_table_path("nullstats2"), clean)
    t2.append(dirty)  # nulls isolated in the appended file
    entry = t2._read_log(t2.latest_version())
    null_files = [f for f in entry["files"] if f.get("nullCounts", {}).get("v", 0) > 0]
    clean_files = [f for f in entry["files"] if f.get("nullCounts", {}).get("v") == 0]
    assert len(null_files) == 1 and len(clean_files) >= 1
    got = t2.read_where_null("v").collect()
    assert sorted(r["id"] for r in got) == [1000, 1001, 1002, 1003, 1004]
    # selection itself only kept the dirty file
    schema = t2._entry_schema(entry)
    sel = [
        f for f in entry["files"] if f.get("nullCounts", {}).get("v") != 0
    ]
    assert len(sel) == 1
    # equality probe skips the all-null file via nullCounts
    pf = t2._point_files(entry, schema, "v", 4.0)
    assert all(f.get("nullCounts", {}).get("v") != f["num_rows"] for f in pf)
    assert [r["id"] for r in t2.read_point("v", 4.0).collect()] == [2]


def test_optimize_purges_deletion_vectors(spark, names):
    """OPTIMIZE rewrites through the masked read: MoR-deleted rows do
    not resurrect, DVs disappear, and the symlink export (which
    refuses DV-masked snapshots) becomes possible again."""
    names.delete_mor(F.col("id") == 2)
    entry = names._read_log(names.latest_version())
    assert any(dv_count(f) > 0 for f in entry["files"])
    names.optimize(target_files=1)
    entry2 = names._read_log(names.latest_version())
    assert all(dv_count(f) == 0 for f in entry2["files"])
    assert rows(names.to_df()) == [(1, "James", "Bond"), (3, "Joe", "Bloggs")]
    manifest = names.export_symlink_manifest()  # no longer refused
    assert os.path.exists(manifest)


def test_files_df_metadata_table(spark, names):
    names.delete_mor(F.col("id") == 2)
    fdf = names.files_df()
    got = fdf.collect()
    assert sum(r["num_rows"] for r in got) == 3
    assert sum(r["dv_masked"] for r in got) == 1
    import json as _json

    stats = _json.loads(got[0]["stats"])
    assert "id" in stats  # min/max recorded per column
    # queryable like any DataFrame: which files could hold id=1?
    hit = fdf.where("get_json_object(stats, '$.id[0]') <= 1").count()
    assert hit >= 1


def test_restore_by_timestamp(spark, names):
    v0_ts = {r["version"]: r["timestamp"] for r in names.history().collect()}[0]
    names.delete(F.col("id") == 1)
    names.restore(timestamp=v0_ts)
    assert rows(names.to_df()) == sorted(SEED)
    with pytest.raises(ValueError, match="exactly one"):
        names.restore()
    with pytest.raises(ValueError, match="exactly one"):
        names.restore(version=0, timestamp=v0_ts)


def test_merge_type_widening(spark):
    """evolve_schema widens int→long / float→double from the source
    instead of narrowing it; carried (untouched) files keep their
    int32 parquet and promote at scan time."""
    base = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "id int, n int, x float"
    )
    t = VersionedTable.create(
        spark, temp_table_path("widen"), base.repartition(2, "id")
    )
    src = spark.createDataFrame(
        [(2, 5_000_000_000, 3.25), (3, 30, 4.5)], "id int, n long, x double"
    )
    t.merge(src, key="id", evolve_schema=True)
    df = t.to_df()
    types = dict(df.dtypes)
    assert types["n"] == "bigint" and types["x"] == "double"
    got = {r["id"]: (r["n"], r["x"]) for r in df.collect()}
    assert got[2] == (5_000_000_000, 3.25)  # beyond int range — not truncated
    assert got[3] == (30, 4.5)
    assert got[1][0] == 10  # carried narrow file reads under wide schema


def test_date_to_timestamp_ntz_widening_keeps_skipping_exact(spark):
    """A date→timestamp_ntz widening drops the carried files' min/max
    stats: an ISO date ('2024-01-05') sorts below the same instant as
    a timestamp ('2024-01-05T00:00:00'), so keeping them made range
    and point reads skip files that hold matching rows. Null counts
    stay."""
    from datetime import date, datetime

    t = VersionedTable.create(
        spark,
        temp_table_path("widen-date"),
        spark.createDataFrame(
            [(1, date(2024, 1, 1)), (2, date(2024, 1, 5))], "id int, d date"
        ),
    )
    t.merge(
        spark.createDataFrame([(3, datetime(2024, 2, 1, 10))], "id int, d timestamp_ntz"),
        key="id",
        evolve_schema=True,
    )
    assert dict(t.to_df().dtypes)["d"] == "timestamp_ntz"
    jan5 = datetime(2024, 1, 5)
    assert sorted(r["id"] for r in t.read_range("d", lower=jan5).collect()) == [2, 3]
    assert [r["id"] for r in t.read_point("d", jan5).collect()] == [2]
    carried = [f for f in t._read_log(1)["files"] if "d" not in f["stats"]]
    assert carried and all(f["nullCounts"]["d"] == 0 for f in carried)


def test_append_refuses_narrowing(spark):
    t = VersionedTable.create(
        spark, temp_table_path("narrow"),
        spark.createDataFrame([(1, 10)], "id int, n int"),
    )
    wide = spark.createDataFrame([(2, 5_000_000_000)], "id int, n long")
    with pytest.raises(MergeSchemaError, match="narrow"):
        t.append(wide)
    # the advertised path works
    t.merge(wide, key="id", evolve_schema=True)
    t.append(spark.createDataFrame([(3, 6_000_000_000)], "id int, n long"))
    assert t.to_df().where("id = 3").collect()[0]["n"] == 6_000_000_000


def test_optimize_small_compacts_only_small_files(spark):
    """Partial OPTIMIZE: the big files are carried by reference
    (identical paths), only the append trickle is rewritten."""
    big = spark.range(0, 2000).withColumn("v", F.col("id"))
    t = VersionedTable.create(
        spark, temp_table_path("optsmall"), big.repartitionByRange(2, "id")
    )
    for i in range(3):  # the small-commit trickle
        t.append(
            spark.range(10_000 + i * 10, 10_000 + i * 10 + 5)
            .withColumn("v", F.col("id"))
            .coalesce(1)
        )
    before = t._read_log(t.latest_version())["files"]
    big_paths = {f["path"] for f in before if f["num_rows"] >= 100}
    assert len(big_paths) == 2 and len(before) == 5
    v = t.optimize_small(min_rows_per_file=100)
    assert v is not None
    after = t._read_log(v)["files"]
    assert {f["path"] for f in after} >= big_paths  # big files untouched
    assert len(after) == 3  # 2 big + 1 packed
    assert t.to_df().count() == 2015
    # idempotent once healthy: a lone packed file is left alone
    assert t.optimize_small(min_rows_per_file=100) is None


def test_symlink_manifest_refuses_partitioned(spark):
    t = VersionedTable.create(
        spark,
        temp_table_path("symlink-part"),
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, seg string"),
        partition_by=["seg"],
    )
    with pytest.raises(ValueError, match="partition"):
        t.export_symlink_manifest()


def test_vacuum_age_guard_protects_inflight_commits(spark, names):
    """A concurrent writer mid-commit has written parquet but not yet
    linked its log entry; vacuum must not reclaim files younger than
    min_age_seconds (Delta's retention-duration safety). Orphans and
    dropped-version files alike wait out the retention window."""
    names.append(spark.createDataFrame([(4, "Eve", "Adams")], SEED_SCHEMA))
    names.delete(F.col("id") == 4)
    # simulate an in-flight commit: a fresh data dir with no log entry
    import os as _os

    inflight = _os.path.join(names.path, "c-99-deadbeef")
    _os.makedirs(inflight)
    with open(_os.path.join(inflight, "part-0.parquet"), "wb") as fh:
        fh.write(b"PAR1fake")
    # default retention: nothing this young is reclaimed, even as a
    # dry run candidate
    assert names.vacuum(retain_last=1, dry_run=True) == []
    names.vacuum(retain_last=1)
    assert _os.path.exists(_os.path.join(inflight, "part-0.parquet"))
    # explicit opt-out reclaims it (single-writer maintenance)
    would = names.vacuum(retain_last=1, dry_run=True, min_age_seconds=0)
    assert any("c-99-deadbeef" in p for p in would)
    names.vacuum(retain_last=1, min_age_seconds=0)
    assert not _os.path.exists(inflight)


def test_overwrite_for_keys_replaces_and_erases(spark, sf_dir):
    """Join-keyed replaceWhere: rows for keys in keys_df are swapped
    for df's rows — including keys whose new state is EMPTY (erased),
    which a df-derived key set cannot express."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    t = VersionedTable.create(spark, temp_table_path("owkeys"), n)
    keys = spark.createDataFrame([(0,), (1,), (2,)], "n_nationkey long")
    repl = (
        n.where(F.col("n_nationkey").isin(0, 1))
        .withColumn("n_name", F.lit("replaced"))
    )
    t.overwrite_for_keys(repl, "n_nationkey", keys_df=keys)
    got = t.to_df()
    assert got.where(F.col("n_nationkey") == 2).count() == 0  # erased
    assert (
        got.where(F.col("n_nationkey").isin(0, 1))
        .where(F.col("n_name") == "replaced")
        .count()
        == 2
    )
    assert got.count() == n.count() - 1  # 25 - key 2 (0,1 replaced 1:1)


def test_overwrite_for_keys_guards_out_of_slice_rows(spark, sf_dir):
    """An incoming row whose key is NOT in the declared keys_df
    aborts the commit (same contract as overwrite_where's guard)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    t = VersionedTable.create(spark, temp_table_path("owkeys-guard"), n)
    v0 = t.latest_version()
    keys = spark.createDataFrame([(0,)], "n_nationkey long")
    bad = n.where(F.col("n_nationkey").isin(0, 5))  # 5 outside slice
    with pytest.raises(ValueError, match="outside the declared key slice"):
        t.overwrite_for_keys(bad, "n_nationkey", keys_df=keys)
    assert t.latest_version() == v0  # nothing committed


def test_overwrite_for_keys_default_keys_from_df(spark, sf_dir):
    """Without keys_df, the key set is df's own distinct keys: only
    those keys' rows are replaced, everything else is carried."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    t = VersionedTable.create(spark, temp_table_path("owkeys-default"), n)
    repl = (
        n.where(F.col("n_nationkey") == 7)
        .withColumn("n_name", F.lit("SEVEN"))
    )
    t.overwrite_for_keys(repl, "n_nationkey")
    got = t.to_df()
    assert got.count() == n.count()
    assert got.where(F.col("n_name") == "SEVEN").count() == 1


def test_optimize_where_scopes_to_partition(spark, sf_dir):
    """OPTIMIZE ... WHERE rewrites only the selected partition's
    files, carries the rest by reference, is a commit-free no-op on
    an empty scope, and refuses non-partition predicates loudly."""
    df = (
        spark.range(0, 300)
        .withColumn("day", (F.col("id") % 3).cast("int"))
        .withColumn("v", F.col("id") * 2)
    )
    t = VersionedTable.create(
        spark, temp_table_path("optwhere"), df.repartition(4), partition_by=["day"]
    )
    t.append(df.withColumn("id", F.col("id") + 1000).repartition(4))
    before = sorted(tuple(r) for r in t.read().collect())
    e1 = t._read_log(t.latest_version())
    files_before = {f["path"] for f in e1["files"]}
    v = t.optimize(target_files=1, where="day = 0")
    e2 = t._read_log(v)
    day0 = [f for f in e2["files"] if "day=0" in f["path"]]
    rest = [f for f in e2["files"] if "day=0" not in f["path"]]
    assert len(day0) == 1
    assert all(f["path"] in files_before for f in rest), "untouched partitions must carry"
    assert sorted(tuple(r) for r in t.read().collect()) == before
    assert t.optimize(where="day = 99") == v, "empty scope must not commit"
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN|cannot be resolved"):
        t.optimize(where="v > 5")  # non-partition column: loud refusal
    with pytest.raises(ValueError, match="unpartitioned"):
        VersionedTable.create(
            spark, temp_table_path("optwhere-up"), df.drop("day")
        ).optimize(where="day = 0")


def test_cleanup_log_mirror_noop_without_mirror(spark):
    """cleanup_log_mirror on a table created WITHOUT delta_mirror must
    be a no-op returning [], not a raw FileNotFoundError (ADVICE r7)."""
    df = spark.range(0, 10).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(spark, temp_table_path("no-mirror-clean"), df)
    assert t.cleanup_log_mirror(retention_ms=0) == []


def test_append_only_refuses_row_changes(spark):
    """delta.appendOnly: every row-changing DML raises AppendOnlyError
    BEFORE committing anything; appends and OPTIMIZE stay legal; the
    mirror's metaData advertises the property to external writers."""
    import json as _json
    import os as _os

    from delta_lake_play_spark.table.versioned import AppendOnlyError

    df = spark.range(0, 50).withColumn("v", F.col("id").cast("long"))
    t = VersionedTable.create(
        spark, temp_table_path("ap-only"), df, delta_mirror=True,
        append_only=True,
    )
    t.append(spark.range(50, 60).withColumn("v", F.col("id").cast("long")))
    with pytest.raises(AppendOnlyError):
        t.delete(F.col("id") < 5)
    with pytest.raises(AppendOnlyError):
        t.delete_mor(F.col("id") < 5)
    with pytest.raises(AppendOnlyError):
        t.update({"v": F.lit(0).cast("long")}, F.col("id") == 1)
    with pytest.raises(AppendOnlyError):
        t.merge(df.limit(1), key="id")
    with pytest.raises(AppendOnlyError):
        t.overwrite_where(df.limit(0), F.col("id") < 0)
    with pytest.raises(AppendOnlyError):
        t.overwrite_for_keys(df.limit(1), "id")
    assert t.latest_version() == 1          # nothing committed past the append
    t.optimize(target_files=1)              # layout-only: legal
    assert t.read().count() == 60
    with open(_os.path.join(t.path, "_delta_log", f"{0:020d}.json")) as fh:
        metas = [
            _json.loads(line)["metaData"] for line in fh if '"metaData"' in line
        ]
    assert metas[0]["configuration"].get("delta.appendOnly") == "true"


def test_vacuum_protocol_check_declares_and_refuses(spark):
    """vacuumProtocolCheck lands in BOTH protocol lists; VACUUM
    refuses when the latest mirror protocol names an unknown writer
    feature; the protocol survives JSON cleanup via the checkpoint
    (latest_mirror_protocol's fallback), so a vacuum AFTER cleanup
    still performs the check."""
    import json

    from delta_lake_play_spark.table.delta_log import (
        DeltaMirrorError,
        latest_mirror_protocol,
    )

    t = VersionedTable.create(
        spark,
        temp_table_path("vpcheck"),
        spark.createDataFrame(SEED, SEED_SCHEMA),
        delta_mirror=True,
        vacuum_protocol_check=True,
    )
    t.delete(F.col("id") == 1)
    p = latest_mirror_protocol(t)
    assert p["minReaderVersion"] == 3 and p["minWriterVersion"] == 7
    assert "vacuumProtocolCheck" in p["readerFeatures"]
    assert "vacuumProtocolCheck" in p["writerFeatures"]

    ddir = os.path.join(t.path, "_delta_log")
    forged = dict(p)
    forged["writerFeatures"] = p["writerFeatures"] + ["futureScheme"]
    nxt = 1 + max(
        int(fn[:20])
        for fn in os.listdir(ddir)
        if fn.endswith(".json") and fn[:20].isdigit()
    )
    fpath = os.path.join(ddir, f"{nxt:020d}.json")
    with open(fpath, "w") as fh:
        fh.write(json.dumps({"protocol": forged}) + "\n")
    with pytest.raises(DeltaMirrorError, match="futureScheme"):
        t.vacuum(retain_last=1, min_age_seconds=0)
    os.remove(fpath)

    # version bounds: a future protocol raising minReaderVersion /
    # minWriterVersion WITHOUT naming a recognizable feature must also
    # refuse — unknown versions may reference files the sweep would
    # classify as orphans.
    for bump in ({"minReaderVersion": 4}, {"minWriterVersion": 8}):
        forged_v = {**p, **bump}
        with open(fpath, "w") as fh:
            fh.write(json.dumps({"protocol": forged_v}) + "\n")
        with pytest.raises(DeltaMirrorError, match="feature-protocol bounds"):
            t.vacuum(retain_last=1, min_age_seconds=0)
        os.remove(fpath)

    # checkpoint fallback: write a checkpoint, delete every commit
    # JSON — the protocol must still be found (and still allow vacuum)
    t.checkpoint_mirror()
    for fn in list(os.listdir(ddir)):
        if fn.endswith(".json") and fn[:20].isdigit():
            os.remove(os.path.join(ddir, fn))
    p2 = latest_mirror_protocol(t)
    assert p2 is not None and "vacuumProtocolCheck" in p2["writerFeatures"]
    t.vacuum(retain_last=1, min_age_seconds=0)  # check passes, sweep legal


def test_vacuum_without_marker_skips_protocol_scan(spark):
    """A mirrored table WITHOUT the marker never refuses vacuum even
    if its protocol names extra features (the obligation is opt-in),
    and an unmirrored table is a clean no-op."""
    seed = spark.createDataFrame(SEED, SEED_SCHEMA)
    t = VersionedTable.create(
        spark, temp_table_path("vpoff"), seed, delta_mirror=True
    )
    t.delete(F.col("id") == 1)
    t.vacuum(retain_last=1, min_age_seconds=0)  # must not raise
    u = VersionedTable.create(spark, temp_table_path("vpnomirror"), seed)
    u.delete(F.col("id") == 1)
    u.vacuum(retain_last=1, min_age_seconds=0)


def test_update_mor_masks_and_appends(spark, names):
    """MoR UPDATE: originals masked by DV (no survivor rewrite), the
    updated versions live in a change-sized new file, re-update of a
    masked row is a no-op, and time travel still sees the old rows."""
    v0_files = {f["path"] for f in names._read_log(0)["files"]}
    v = names.update_mor({"lastname": F.lit("UPDATED")}, F.col("id") == 2)
    got = rows(names.to_df())
    assert (2, "Alice", "UPDATED") in got and len(got) == 3
    entry = names._read_log(v)
    # every v0 file is carried by reference (MoR: no rewrite)...
    assert v0_files <= {f["path"] for f in entry["files"]}
    # ...and exactly one new file holds the updated row
    new_files = [f for f in entry["files"] if f["path"] not in v0_files]
    assert len(new_files) == 1
    assert sum(dv_count(f) for f in entry["files"]) == 1
    # time travel: pre-update snapshot intact
    assert (2, "Alice", "Rogers") in rows(names.read(version=0))
    # a masked row is logically gone: updating it again changes nothing
    names.delete_mor(F.col("id") == 2)  # mask the updated row's original? no: masks the new row
    n_before = len(rows(names.to_df()))
    names.update_mor({"lastname": F.lit("X")}, F.col("id") == 2)
    assert len(rows(names.to_df())) == n_before
    assert all(r[0] != 2 for r in rows(names.to_df()))


def test_update_set_swap_evaluates_pre_image(spark, names):
    """UPDATE SET a=b, b=a swaps (Delta semantics: every SET expression
    evaluates against the pre-image row, not a prior SET's output)."""
    names.update(
        {"firstname": F.col("lastname"), "lastname": F.col("firstname")},
        F.col("id") == 1,
    )
    assert (1, "Bond", "James") in rows(names.to_df())


def test_update_cdf_post_image_is_pre_image_based(spark):
    """The CDC update_postimage rows also evaluate SET against the
    pre-image (the CDC loop is a separate code path from the rewrite)."""
    t = VersionedTable.create(
        spark,
        temp_table_path("ucow-swap-cdf"),
        spark.createDataFrame(SEED, SEED_SCHEMA),
        enable_cdf=True,
    )
    v = t.update(
        {"firstname": F.col("lastname"), "lastname": F.col("firstname")},
        F.col("id") == 1,
    )
    post = [
        (r["firstname"], r["lastname"])
        for r in t.table_changes(v, v).collect()
        if r["_change_type"] == "update_postimage"
    ]
    assert post == [("Bond", "James")]


def test_add_column_default_lifecycle(spark, names):
    """ADD COLUMN DEFAULT: pre-ALTER rows read NULL (no backfill),
    append omitting the column fills the default, explicit values
    win, the default follows a RENAME and dies with a DROP, and a
    default that cannot cast to the column type fails the ALTER."""
    names.add_column("tier", "string", default="'basic'")
    assert all(r[3] is None for r in rows(names.to_df()))  # no backfill
    names.append(
        spark.createDataFrame([(7, "New", "Guy")], SEED_SCHEMA)
    )  # tier omitted -> default
    names.append(
        spark.createDataFrame(
            [(8, "Eve", "Adams", "vip")],
            "id int, firstname string, lastname string, tier string",
        )
    )  # explicit wins
    got = {r[0]: r[3] for r in rows(names.to_df())}
    assert got[7] == "basic" and got[8] == "vip" and got[1] is None

    names.rename_column("tier", "tier2")
    assert names.column_defaults() == {"tier2": "'basic'"}
    names.drop_column("tier2")
    assert names.column_defaults() == {}
    # a later append must NOT resurrect the dropped default
    with pytest.raises(Exception, match="drift"):
        names.append(spark.createDataFrame([(9, "X", "Y", "z")],
                     "id int, firstname string, lastname string, tier2 string"))

    with pytest.raises(Exception):
        names.add_column("n", "int", default="'not-an-int'")
    with pytest.raises(ValueError, match="already exists"):
        names.add_column("id", "int")


def test_restore_resets_column_defaults(spark, names):
    """RESTORE to a version before ADD COLUMN ... DEFAULT resets the
    effective defaults to the restored version's state (ADVICE r9
    medium): otherwise the newest-record-wins scan keeps the ghost
    default alive and a later re-add of the same name silently
    inherits the fill instead of NULL."""
    names.add_column("tier", "string", default="'basic'")  # v1
    names.restore(version=0)  # v2
    assert names.column_defaults() == {}
    names.add_column("tier", "string")  # v3: re-introduced, NO default
    # pre-fix, the ghost default made this omit-append silently fill
    # 'basic'; with the defaults reset it is plain schema drift
    with pytest.raises(MergeSchemaError, match="drift"):
        names.append(spark.createDataFrame([(7, "New", "Guy")], SEED_SCHEMA))
    names.append(
        spark.createDataFrame(
            [(7, "New", "Guy", None)],
            "id int, firstname string, lastname string, tier string",
        )
    )
    got = {r[0]: r[3] for r in rows(names.to_df())}
    assert got[7] is None, "re-added column must not inherit ghost default"
    # restoring INTO a defaulted state brings the default back
    names.restore(version=1)
    assert names.column_defaults() == {"tier": "'basic'"}


def test_add_column_default_rejects_column_refs(spark, names):
    """Delta requires literal/foldable defaults: an expression that
    references any column must fail the ALTER (ADVICE r9: validating
    over range(1) exposed `id`, so "id + 1" passed validation and
    then bound row-wise at append time)."""
    with pytest.raises(Exception):
        names.add_column("n", "int", default="id + 1")
    assert names.column_defaults() == {}
    names.add_column("n", "int", default="1 + 1")  # foldable still fine
    names.append(spark.createDataFrame([(7, "New", "Guy")], SEED_SCHEMA))
    assert {r[0]: r[3] for r in rows(names.to_df())}[7] == 2


def test_column_defaults_latest_path_is_memoized(spark, names):
    """column_defaults() latest-state lookups read only commits newer
    than the previous scan (ADVICE r9: the O(versions) reverse scan
    per append compounded to O(V^2) log reads as the table aged)."""
    names.add_column("tier", "string", default="'basic'")
    assert names.column_defaults() == {"tier": "'basic'"}  # warm cache
    reads = {"n": 0}
    orig = names._read_log_raw

    def counting(v):
        reads["n"] += 1
        return orig(v)

    names._read_log_raw = counting
    assert names.column_defaults() == {"tier": "'basic'"}
    assert reads["n"] == 0, "same latest version must not rescan the log"
    names._read_log_raw = orig
    names.append(spark.createDataFrame([(7, "New", "Guy")], SEED_SCHEMA))
    names._read_log_raw = counting
    reads["n"] = 0
    assert names.column_defaults() == {"tier": "'basic'"}
    assert reads["n"] <= 1, "only commits newer than the cache are read"
    names._read_log_raw = orig
    # as-of path stays un-cached and correct
    assert names.column_defaults(as_of=0) == {}


def test_update_unknown_set_column_raises(spark, names):
    """SET on a non-existent column must fail fast, not silently no-op
    (regression guard for the single-select pre-image builder, which
    iterates the TABLE's columns)."""
    with pytest.raises(ValueError, match="non-existent column"):
        names.update({"firstnme": F.lit("x")}, F.col("id") == 1)
    with pytest.raises(ValueError, match="non-existent column"):
        names.update_mor({"firstnme": F.lit("x")}, F.col("id") == 1)
    assert rows(names.to_df()) == sorted(SEED)  # nothing committed


def test_update_mor_set_swap_evaluates_pre_image(spark, names):
    """MoR UPDATE shares the pre-image SET contract: a=b, b=a swaps."""
    names.update_mor(
        {"firstname": F.col("lastname"), "lastname": F.col("firstname")},
        F.col("id") == 1,
    )
    assert (1, "Bond", "James") in rows(names.to_df())


def test_update_mor_cdf_pre_and_post_images(spark):
    """CDF on MoR UPDATE: one update_preimage + one update_postimage
    per changed row, change-sized."""
    t = VersionedTable.create(
        spark,
        temp_table_path("umor-cdf"),
        spark.createDataFrame(SEED, SEED_SCHEMA),
        enable_cdf=True,
    )
    v = t.update_mor({"firstname": F.lit("Z")}, F.col("id") == 1)
    ch = t.table_changes(v, v)
    kinds = sorted(
        (r["_change_type"], r["id"], r["firstname"]) for r in ch.collect()
    )
    assert ("update_postimage", 1, "Z") in kinds
    assert any(k[0] == "update_preimage" and k[1] == 1 for k in kinds)
    assert len([k for k in kinds if k[1] == 1]) == 2


def test_warm_mirrored_commit_log_budget(spark, monkeypatch):
    """Private-log I/O per commit on a warm handle of the serving
    table (``delta_mirror=True``): the commit reads the snapshot it
    builds on once, the mirror sync diffs the new entry against that
    predecessor from memory, and version 0 (the table config, parsed
    once per handle) is never parsed again. Counts every JSON parse of
    a ``_log`` entry and every listing of ``_log``."""
    import json

    from delta_lake_play_spark.serving.handlers import NamesTableService

    svc = NamesTableService(spark, temp_table_path("log-budget"), delta_mirror=True)
    table = svc.table
    for i in range(3):  # warm the handle; stays clear of checkpoint versions
        svc.merge_to_table([{"id": 10 + i, "firstname": "a", "lastname": "b"}])
    log_dir = os.path.join(table.path, "_log")
    counts = {}
    real_load, real_listdir = json.load, os.listdir

    def load(fh, *args, **kwargs):
        name = getattr(fh, "name", "")
        if os.path.dirname(name) == log_dir:
            counts["parses"] += 1
            counts["v0"] += name.endswith(f"{0:020d}.json")
        return real_load(fh, *args, **kwargs)

    def listdir(path="."):
        counts["listings"] += os.path.normpath(str(path)) == log_dir
        return real_listdir(path)

    monkeypatch.setattr(json, "load", load)
    monkeypatch.setattr(os, "listdir", listdir)
    ops = {
        "merge": lambda: svc.merge_to_table(
            [{"id": 1, "firstname": "x", "lastname": "y"}]
        ),
        "delete": lambda: table.delete("id = 2"),
        "append": lambda: table.append(
            spark.createDataFrame([(50, "n", "m")], SEED_SCHEMA)
        ),
    }
    got = {}
    for name, op in ops.items():
        counts.update(parses=0, v0=0, listings=0)
        op()
        got[name] = dict(counts)
    monkeypatch.undo()
    assert got == {
        "merge": {"parses": 1, "v0": 0, "listings": 2},
        "delete": {"parses": 1, "v0": 0, "listings": 2},
        "append": {"parses": 1, "v0": 0, "listings": 3},
    }
    assert table.latest_version() == 6


def test_is_empty_local_fallback_logs_warning(caplog):
    """A DataFrame whose plan call raises (a non-classic, Connect-style
    frame) is treated as possibly non-empty, so the data-write job
    runs, and as a non-local MERGE source; the shared plan check says
    so once through the package logger."""
    from py4j.protocol import Py4JError

    from delta_lake_play_spark.functions import local

    class _Jdf:
        def queryExecution(self):
            raise Py4JError("no plan")

    class _Frame:
        _jdf = _Jdf()

    local._log_local_plan_fallback.cache_clear()
    with caplog.at_level("WARNING", logger="spark_graft"):
        assert local._is_empty_local(_Frame()) is False
        assert local._is_empty_local(_Frame()) is False
        assert local._local_relation(_Frame()) is None
    warned = [r for r in caplog.records if r.name == "spark_graft"]
    assert [r.levelname for r in warned] == ["WARNING"]
    assert "Py4JError" in warned[0].getMessage()
