"""Table DML + time travel queries (SURVEY.md §2.1/§2.7/§2.8).

Each query materializes a throwaway versioned table (table/
versioned.py) from the ``customer`` table, applies a deterministic
commit sequence, and reads a snapshot back — so the DuckDB oracle can
express the expected content as a pure batch query over ``customer``.
This checks the actual table layer end-to-end (write → log → snapshot
resolution → read), not just a batch rewrite of it.

Commit sequences mirror the reference's lifecycle: create-if-absent
(``spark_project.py:26-37``), merge upsert (``api.py:92-102``),
predicate delete (``api.py:107``), version/timestamp reads
(``api.py:74-80``), history (``api.py:60-67``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_play_spark.functions.exact import sql_dsum
from delta_lake_play_spark.functions.local import empty_df, local_df
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table
from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

# Deterministic derived sets over customer -----------------------------------

_SRC_SQL = """
  SELECT c_custkey, 'UPDATED-' || c_name AS c_name, c_nationkey,
         c_acctbal + 100 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW-' || c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 3
"""


def _drop_commit_jsons(t: VersionedTable, upto: int) -> None:
    """Delete the mirror's commit JSONs at or below ``upto`` (what log
    cleanup does once a checkpoint covers them), so the protocol reader
    can only replay from the checkpoint."""
    import os as _os

    from delta_lake_play_spark.table.delta_log import _commit_versions

    ddir = _os.path.join(t.path, "_delta_log")
    for v in _commit_versions(ddir):
        if v <= upto:
            _os.remove(_os.path.join(ddir, f"{v:020d}.json"))


def _merge_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.concat(F.lit("UPDATED-"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = c.filter(F.col("c_custkey") % 10 == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW-"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    return updates.unionByName(inserts)


def _appended_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 25 == 7).select(
        (F.col("c_custkey") + 2000000).alias("c_custkey"),
        F.concat(F.lit("APPEND-"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )


_APPEND_SQL = """
  SELECT c_custkey + 2000000 AS c_custkey, 'APPEND-' || c_name AS c_name,
         c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 25 = 7
"""


def _fresh_from_customer(spark: SparkSession, sf_dir: str) -> VersionedTable:
    return VersionedTable.create(
        spark, temp_table_path(), load_table(spark, sf_dir, "customer")
    )


# --- dml_merge_upsert (api.py:92-102) ----------------------------------------

_MERGE_ORACLE = f"""
WITH src AS ({_SRC_SQL})
SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
UNION ALL SELECT * FROM src
"""


@register("dml_merge_upsert", oracle=_MERGE_ORACLE)
def dml_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)
    t.merge(_merge_source(spark, sf_dir), key="c_custkey")
    return t.to_df()


# --- dml_delete_where (api.py:107, fixed semantics) ---------------------------

_DELETE_ORACLE = "SELECT * FROM customer WHERE NOT COALESCE(c_acctbal < 0, FALSE)"


@register("dml_delete_where", oracle=_DELETE_ORACLE)
def dml_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)
    t.delete(F.col("c_acctbal") < 0)
    return t.to_df()


# --- dml_update_where (Delta DML surface, README.md:11) ------------------------

_UPDATE_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal,
       CASE WHEN c_acctbal > 9000 THEN 'PREMIUM' ELSE c_mktsegment END AS c_mktsegment
FROM customer
"""


@register("dml_update_where", oracle=_UPDATE_ORACLE)
def dml_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)
    t.update({"c_mktsegment": F.lit("PREMIUM")}, F.col("c_acctbal") > 9000)
    return t.to_df()


# --- dml_insert_append ----------------------------------------------------------

_APPEND_ORACLE = f"SELECT * FROM customer UNION ALL {_APPEND_SQL}"


@register("dml_insert_append", oracle=_APPEND_ORACLE)
def dml_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)
    t.append(_appended_rows(spark, sf_dir))
    return t.to_df()


# --- scan_latest_snapshot (api.py:74) -------------------------------------------

_LATEST_ORACLE = f"""
WITH v1 AS (SELECT * FROM customer UNION ALL {_APPEND_SQL})
SELECT * FROM v1 WHERE NOT COALESCE(c_acctbal < 0, FALSE)
"""


@register("scan_latest_snapshot", oracle=_LATEST_ORACLE)
def scan_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)           # v0
    t.append(_appended_rows(spark, sf_dir))           # v1
    t.delete(F.col("c_acctbal") < 0)                  # v2
    return t.to_df()


# --- dml_delta_export (open Delta protocol interop) ---------------------------


@register("dml_delta_export", oracle=_LATEST_ORACLE)
def dml_delta_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END Delta protocol interop: the same create → append →
    delete lifecycle as ``scan_latest_snapshot``, on a table that
    mirrors every commit into a REAL ``_delta_log`` (JSON actions +
    parquet checkpoints per the open Delta protocol — the exact
    on-disk format delta-spark writes under the reference's tables,
    ``spark_project.py:36``). The result is read back through the
    log-replay protocol READER (``table/delta_log.py``), never the
    private log — so a wrong add/remove action, bad schemaString, or
    broken path encoding diverges from the oracle."""
    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    t = VersionedTable.create(
        spark,
        temp_table_path(),
        load_table(spark, sf_dir, "customer"),
        delta_mirror=True,
    )
    t.append(_appended_rows(spark, sf_dir))
    t.delete(F.col("c_acctbal") < 0)
    return read_delta_snapshot(spark, t.path)


# --- time_travel_version (api.py:77) ---------------------------------------------

_TTV_ORACLE = f"SELECT * FROM customer UNION ALL {_APPEND_SQL}"


@register("time_travel_version", oracle=_TTV_ORACLE)
def time_travel_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Later commits must not leak into an as-of read: v2 deletes rows,
    yet read(version=1) still sees them."""
    t = _fresh_from_customer(spark, sf_dir)           # v0
    t.append(_appended_rows(spark, sf_dir))           # v1
    t.delete(F.col("c_acctbal") < 0)                  # v2
    return t.read(version=1)


# --- time_travel_timestamp (api.py:80) --------------------------------------------

_TTT_ORACLE = _TTV_ORACLE


@register("time_travel_timestamp", oracle=_TTT_ORACLE)
def time_travel_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)           # v0
    t.append(_appended_rows(spark, sf_dir))           # v1
    v1_ts = {r["version"]: r["timestamp"] for r in t.history().collect()}[1]
    t.delete(F.col("c_acctbal") < 0)                  # v2
    return t.read(timestamp=v1_ts)


# --- set_except_snapshot_diff: change feed from time travel (README.md:9) ----------

_DIFF_ORACLE = f"""
WITH v1 AS (SELECT * FROM customer UNION ALL {_APPEND_SQL})
SELECT * FROM v1 WHERE c_acctbal < 0
"""


@register("set_except_snapshot_diff", oracle=_DIFF_ORACLE)
def set_except_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows removed between v1 and v2 = v1 EXCEPT ALL v2."""
    t = _fresh_from_customer(spark, sf_dir)           # v0
    t.append(_appended_rows(spark, sf_dir))           # v1
    t.delete(F.col("c_acctbal") < 0)                  # v2
    return t.read(version=1).exceptAll(t.read(version=2))


# --- dml_restore -------------------------------------------------------------------

_RESTORE_ORACLE = "SELECT * FROM customer"


@register("dml_restore", oracle=_RESTORE_ORACLE)
def dml_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Destructive commit then restore(0): latest content equals the
    original table again (history keeps all three commits)."""
    t = _fresh_from_customer(spark, sf_dir)           # v0
    t.delete(F.col("c_acctbal") < 5000)               # v1
    t.restore(0)                                      # v2
    return t.to_df()


# --- dml_vacuum --------------------------------------------------------------------

_VACUUM_ORACLE = f"""
WITH v1 AS (SELECT * FROM customer UNION ALL {_APPEND_SQL})
SELECT * FROM v1 WHERE NOT COALESCE(c_acctbal < 0, FALSE)
"""


@register("dml_vacuum", oracle=_VACUUM_ORACLE)
def dml_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum drops old snapshot data but the latest read (and the
    log) survive."""
    t = _fresh_from_customer(spark, sf_dir)           # v0
    t.append(_appended_rows(spark, sf_dir))           # v1
    t.delete(F.col("c_acctbal") < 0)                  # v2
    t.vacuum(retain_last=1, min_age_seconds=0)
    return t.to_df()


# --- dml_history: deterministic projection of the commit log ------------------------

_HISTORY_ORACLE = """
SELECT 0 AS version, 'CREATE' AS operation,
       (SELECT COUNT(*) FROM customer) AS num_rows
UNION ALL
SELECT 1, 'DELETE', (SELECT COUNT(*) FROM customer WHERE NOT COALESCE(c_acctbal < 0, FALSE))
UNION ALL
SELECT 2, 'RESTORE', (SELECT COUNT(*) FROM customer)
"""


@register("dml_history", oracle=_HISTORY_ORACLE)
def dml_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)
    t.delete(F.col("c_acctbal") < 0)
    t.restore(0)
    return t.history().select("version", "operation", "num_rows")


# --- history_scan: deterministic history projection (api.py:60-67) -----------------

# The history table is fully determined by the commit script (create →
# append → delete), so everything EXCEPT the wall-clock timestamp
# hash-checks against a VALUES-style oracle built from the same script.
# The serving layer (serving/handlers.py) still surfaces the timestamp
# column; it is projected out here purely for determinism.

_HISTORY_SCAN_ORACLE = """
WITH appended AS (
  SELECT c_acctbal FROM customer WHERE c_custkey % 25 = 7
), full_t AS (
  SELECT c_acctbal FROM customer UNION ALL SELECT c_acctbal FROM appended
)
SELECT 0 AS version, 'CREATE' AS operation,
       (SELECT COUNT(*) FROM customer) AS num_rows
UNION ALL
SELECT 1, 'APPEND', (SELECT COUNT(*) FROM full_t)
UNION ALL
SELECT 2, 'DELETE',
       (SELECT COUNT(*) FROM full_t WHERE NOT COALESCE(c_acctbal < 0, FALSE))
"""


@register("history_scan", oracle=_HISTORY_SCAN_ORACLE)
def history_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The api.py:60-67 endpoint shape — scan the commit log after a
    create → append → delete script. Timestamps are wall-clock and are
    excluded from the deterministic projection (the serving layer
    returns them); version/operation/num_rows hash-check."""
    t = _fresh_from_customer(spark, sf_dir)
    t.append(_appended_rows(spark, sf_dir))
    t.delete("c_acctbal < 0")
    return t.history().select("version", "operation", "num_rows")


# --- write_table_create + create_if_absent (spark_project.py:26-37) -----------------

_SEED_ORACLE = """
SELECT * FROM (VALUES (1, 'James', 'Bond'), (2, 'Alice', 'Rogers'), (3, 'Joe', 'Bloggs'))
  t(id, firstname, lastname)
"""

_SEED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("firstname", T.StringType(), False),
        T.StructField("lastname", T.StringType(), False),
    ]
)

_SEED_ROWS = [(1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")]


@register("write_table_create", oracle=_SEED_ORACLE)
def write_table_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    seed = spark.createDataFrame(_SEED_ROWS, _SEED_SCHEMA)
    t = VersionedTable.create(spark, temp_table_path("names"), seed)
    return t.to_df()


@register("create_if_absent", oracle=_SEED_ORACLE)
def create_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second open of the same path must NOT re-seed (the reference's
    create-or-open, spark_project.py:26-37)."""
    seed = spark.createDataFrame(_SEED_ROWS, _SEED_SCHEMA)
    path = temp_table_path("names-cia")
    VersionedTable.create_if_absent(spark, path, seed)
    empty = empty_df(spark, _SEED_SCHEMA)
    t = VersionedTable.create_if_absent(spark, path, empty)  # opens, no reseed
    return t.to_df()


# --- dml_optimize_compact (Delta OPTIMIZE surface) -------------------------

_OPTIMIZE_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer WHERE c_custkey BETWEEN 10 AND 60
"""


@register("dml_optimize_compact", oracle=_OPTIMIZE_ORACLE)
def dml_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE: bin-pack a fragmented snapshot into few files,
    range-clustered on the access key so the per-file min/max bands
    are tight and read_range's stats pruning becomes selective.
    Content is identical to the pre-OPTIMIZE version — the oracle
    checks the pruned post-OPTIMIZE read against a plain filter."""
    c = load_table(spark, sf_dir, "customer").repartition(16)
    t = VersionedTable.create(spark, temp_table_path("opt"), c)
    t.optimize(target_files=4, cluster_by=["c_custkey"])
    return t.read_range("c_custkey", 10, 60).select(
        "c_custkey", "c_name", "c_acctbal"
    )


# --- dml_change_feed (CDC between versions) --------------------------------

_CDC_ORACLE = f"""
WITH src AS ({_SRC_SQL}),
v0 AS (SELECT * FROM customer),
v1 AS (
  SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
  UNION ALL SELECT * FROM src
)
SELECT *, 'insert' AS _change_type FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
UNION ALL
SELECT *, 'delete' AS _change_type FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
"""


@register("dml_change_feed", oracle=_CDC_ORACLE)
def dml_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed between versions: full-row diff with _change_type
    (updates appear as delete+insert), computed as two anti-diffs of
    the snapshots — no row-level delta log required."""
    t = _fresh_from_customer(spark, sf_dir)
    t.merge(_merge_source(spark, sf_dir), key="c_custkey")
    return t.changes(0, 1)


# --- dml_clone_shallow -------------------------------------------------------------

_CLONE_ORACLE = """
SELECT * FROM customer WHERE NOT COALESCE(c_acctbal < 0, FALSE)
"""


@register("dml_clone_shallow", oracle=_CLONE_ORACLE)
def dml_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone then diverge: the clone's DELETE rewrites only
    its touched files under the CLONE's directory while the source
    table is untouched (asserted structurally in
    tests/test_versioned_table.py). The clone commit itself is
    metadata-only — O(1) for any table size."""
    t = _fresh_from_customer(spark, sf_dir)           # source v0
    clone = t.clone_to(temp_table_path())             # clone v0 (no data copied)
    clone.delete(F.col("c_acctbal") < 0)              # clone v1, COW
    return clone.to_df()


# --- dml_replace_where -------------------------------------------------------------

_RW_ORACLE = """
SELECT * FROM customer WHERE NOT COALESCE(c_mktsegment = 'BUILDING', FALSE)
UNION ALL
SELECT c_custkey, 'RW-' || c_name AS c_name, c_nationkey,
       0.0 AS c_acctbal, c_mktsegment
FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
"""


@register("dml_replace_where", oracle=_RW_ORACLE)
def dml_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta replaceWhere: swap the BUILDING-segment slice for a
    recomputed version of itself (here: even keys only, renamed,
    zeroed balance) in ONE atomic commit — the idempotent-backfill
    primitive. Files without a BUILDING row are carried by
    reference."""
    t = _fresh_from_customer(spark, sf_dir)           # v0
    c = load_table(spark, sf_dir, "customer")
    replacement = c.where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 2 == 0)
    ).select(
        "c_custkey",
        F.concat(F.lit("RW-"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    t.overwrite_where(replacement, F.col("c_mktsegment") == "BUILDING")  # v1
    return t.to_df()


# --- dml_merge_cdc: MERGE with a whenMatchedDelete clause --------------------------

_CDC_ORACLE = """
WITH src AS (
  SELECT c_custkey, 'UPDATED-' || c_name AS c_name, c_nationkey,
         c_acctbal + 100 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, -99999.0 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 3 AND c_custkey % 10 <> 0
)
SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
UNION ALL
SELECT * FROM src WHERE NOT COALESCE(c_acctbal = -99999.0, FALSE)
"""


@register("dml_merge_cdc", oracle=_CDC_ORACLE)
def dml_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One MERGE applies a CDC batch of upserts AND tombstones
    (whenMatchedDelete): rows flagged with the sentinel balance
    delete their matched target row instead of updating it. Same
    single touched-file detection pass as a plain merge."""
    t = _fresh_from_customer(spark, sf_dir)           # v0
    c = load_table(spark, sf_dir, "customer")
    ups = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.concat(F.lit("UPDATED-"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        "c_mktsegment",
    )
    tomb = c.filter(
        (F.col("c_custkey") % 7 == 3) & (F.col("c_custkey") % 10 != 0)
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.lit(-99999.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    t.merge(
        ups.unionByName(tomb),
        key="c_custkey",
        delete_matched_where=F.col("c_acctbal") == -99999.0,
    )                                                  # v1
    return t.to_df()


# --- dml_delete_mor: merge-on-read delete via deletion vectors ---------------------

_MOR_ORACLE = """
SELECT * FROM customer
WHERE NOT COALESCE(c_acctbal < 0, FALSE)
  AND NOT COALESCE(c_mktsegment = 'MACHINERY' AND c_custkey % 100 = 7, FALSE)
"""


@register("dml_delete_mor", oracle=_MOR_ORACLE)
def dml_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two merge-on-read DELETEs: each commit writes only row
    positions into the log (zero data bytes — the point-delete path
    for a 100 TB table); the read masks them via a broadcast
    anti-join on (file, row position). CoW delete remains the bulk
    path; OPTIMIZE hardens the vectors away."""
    t = _fresh_from_customer(spark, sf_dir)                       # v0
    t.delete_mor(F.col("c_acctbal") < 0)                          # v1: DV only
    t.delete_mor(
        (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_custkey") % 100 == 7)
    )                                                             # v2: DV union
    return t.to_df()


# --- dml_optimize_zorder (multi-column clustering for skipping) ------------

_ZORDER_ORACLE = """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_orderkey < 30000
  AND l_orderkey BETWEEN 1000 AND 2000 AND l_partkey BETWEEN 100 AND 400
"""


@register("dml_optimize_zorder", oracle=_ZORDER_ORACLE)
def dml_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (l_orderkey, l_partkey): range-partition on
    the interleaved-bit Z-value so per-file min/max bands are tight on
    BOTH columns, then read back through stats pruning on each. The
    oracle checks that clustering is a pure physical reorganization —
    the two-sided range read equals a plain filter. File-count
    skipping on both dimensions is asserted in
    ``tests/test_data_skipping.py::test_zorder_prunes_on_both_columns``."""
    # A prefix slice keeps the two rewrite passes cheap at bench scale
    # without changing the clustering demonstration.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 30000)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .repartition(8)
    )
    t = VersionedTable.create(spark, temp_table_path("zord"), li)
    t.optimize(target_files=8, zorder_by=["l_orderkey", "l_partkey"])
    out = t.read_range("l_orderkey", 1000, 2000)
    return out.filter(F.col("l_partkey").between(100, 400))


# --- dml_merge_evolve (automatic schema evolution on MERGE) ----------------

_EVOLVE_ORACLE = """
SELECT c.*, CASE WHEN c.c_custkey <= 50 THEN 'gold' END AS tier
FROM customer c
"""


@register("dml_merge_evolve", oracle=_EVOLVE_ORACLE)
def dml_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (Delta autoMerge semantics): the
    source carries a new ``tier`` column; matched rows take it,
    pre-existing rows read back NULL. Only files containing matched
    keys are rewritten — untouched files are carried forward by
    reference and serve the new column as NULL at read time
    (``tests/test_versioned_table.py`` pins the no-rewrite property)."""
    t = _fresh_from_customer(spark, sf_dir)                        # v0
    src = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 50)
        .withColumn("tier", F.lit("gold"))
    )
    t.merge(src, key="c_custkey", evolve_schema=True)              # v1
    return t.to_df()


# --- dml_type_widening (typeWidening table feature through the mirror) -----
# Delta type widening: a column's type is widened losslessly (int →
# long here) and carried files KEEP their narrower physical parquet
# type — readers upcast at scan. The mirror declares the
# ``typeWidening`` reader-writer feature in the widening commit and
# records the change history as ``delta.typeChanges`` field metadata
# (PROTOCOL.md); both survive checkpointing. The key proves the full
# round trip: widening merge → classic checkpoint → every commit JSON
# deleted → snapshot reconstructed by the protocol reader from the
# checkpoint alone, with values above int range in the widened column.

_TYPE_WIDENING_ORACLE = """
WITH b AS (
  SELECT c_custkey, c_name,
         CAST(c_custkey % 100000 + c_nationkey AS INTEGER) AS iv
  FROM customer WHERE c_custkey % 20 = 2
)
SELECT c_custkey, c_name,
       CASE WHEN c_custkey <= 500 THEN c_custkey * 10000000000
            ELSE CAST(iv AS BIGINT) END AS iv
FROM b
"""


@register("dml_type_widening", oracle=_TYPE_WIDENING_ORACLE)
def dml_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE (iv int, mirrored) → widening MERGE (source iv long,
    values past int range) → checkpoint → commit JSONs deleted → read
    back exclusively through the protocol reader. Untouched files are
    carried by reference under their narrower physical type; the
    declared (widened) schema upcasts them at scan — zero rewrite,
    which is the point of the feature at 100 TB."""
    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 20 == 2)
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_custkey") % 100000 + F.col("c_nationkey"))
            .cast("int")
            .alias("iv"),
        )
    )
    t = VersionedTable.create(
        spark, temp_table_path("widen"), base, delta_mirror=True
    )                                                              # v0
    src = base.filter(F.col("c_custkey") <= 500).select(
        "c_custkey",
        "c_name",
        (F.col("c_custkey") * F.lit(10_000_000_000)).alias("iv"),
    )
    t.merge(src, key="c_custkey", evolve_schema=True)  # widens iv  # v1
    v = t.checkpoint_mirror()
    _drop_commit_jsons(t, v)
    return read_delta_snapshot(spark, t.path)


# --- dml_column_defaults (allowColumnDefaults writer feature) ---------------
# ALTER TABLE ADD COLUMN ... DEFAULT: existing rows keep reading NULL
# (defaults never backfill — Delta CURRENT_DEFAULT semantics), an
# append that OMITS the column fills the default at write time, an
# append that supplies it wins. Metadata-only ALTER: zero data bytes
# move at any table size. The mirror declares the writer-only
# allowColumnDefaults feature and rides the expression as
# CURRENT_DEFAULT field metadata; the key reads back through the
# protocol reader.

_COLUMN_DEFAULTS_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 = 3
)
SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS tier FROM base
UNION ALL
SELECT c_custkey + 1000000, c_name, 'standard' AS tier FROM base
UNION ALL
SELECT c_custkey + 2000000, c_name, 'gold' AS tier FROM base
WHERE c_custkey <= 500
"""


@register("dml_column_defaults", oracle=_COLUMN_DEFAULTS_ORACLE)
def dml_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE (mirrored) → ADD COLUMN tier DEFAULT 'standard' →
    append WITHOUT the column (default fills) → append WITH it
    (explicit wins) → read back through the protocol reader. The
    pre-ALTER rows read NULL; only write-time fills ever see the
    default."""
    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 3)
        .select("c_custkey", "c_name")
    )
    t = VersionedTable.create(
        spark, temp_table_path("coldef"), base, delta_mirror=True
    )                                                              # v0
    t.add_column("tier", "string", default="'standard'")           # v1
    t.append(
        base.select(
            (F.col("c_custkey") + 1_000_000).alias("c_custkey"), "c_name"
        )
    )                                                              # v2
    t.append(
        base.filter(F.col("c_custkey") <= 500).select(
            (F.col("c_custkey") + 2_000_000).alias("c_custkey"),
            "c_name",
            F.lit("gold").alias("tier"),
        )
    )                                                              # v3
    return read_delta_snapshot(spark, t.path)


# --- dml_incremental_gold --------------------------------------------------

# The medallion incremental-maintenance pattern: a silver fact table
# takes an append; the gold per-nation aggregate is NOT recomputed —
# the change feed between silver versions is aggregated into deltas
# and MERGEd into gold. At 100 TB this is the difference between
# touching the whole fact table per refresh and touching one batch.
# Gold stores the balance as exact integer cents so incremental
# addition is associative (double accumulation would drift from the
# full-recompute oracle); the final SELECT converts once.

_INC_GOLD_ORACLE = f"""
WITH full_silver AS (SELECT * FROM customer UNION ALL {_APPEND_SQL})
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_dsum('c_acctbal', 2)} AS sum_bal
FROM full_silver
GROUP BY c_nationkey
"""


@register("dml_incremental_gold", oracle=_INC_GOLD_ORACLE)
def dml_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained gold aggregate: silver v0 -> full
    compute into gold; silver append -> change feed -> per-key deltas
    -> MERGE into gold. The oracle recomputes from scratch, so the
    hash proves incremental == full."""
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    silver = _fresh_from_customer(spark, sf_dir)

    # The gold aggregate is #nations rows; without the coalesce the
    # 32-partition groupBy output becomes 25 one-row files that every
    # later commit re-stats — pure fixed overhead.
    gold_rows = (
        silver.to_df()
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(cents).alias("bal_cents"),
        )
        .coalesce(1)
    )
    gold = VersionedTable.create(spark, temp_table_path("gold"), gold_rows)

    silver.append(_appended_rows(spark, sf_dir))

    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        silver.changes(0, 1)
        .groupBy("c_nationkey")
        .agg(
            F.sum(sign).alias("dn"),
            F.sum(sign * cents).alias("dc"),
        )
    )
    cur = gold.to_df()
    updated = (
        delta.join(cur, "c_nationkey", "left")
        .select(
            "c_nationkey",
            (F.coalesce("n_customers", F.lit(0)) + F.col("dn")).alias("n_customers"),
            (F.coalesce("bal_cents", F.lit(0)) + F.col("dc")).alias("bal_cents"),
        )
        .coalesce(1)
    )
    gold.merge(updated, key="c_nationkey")

    return gold.to_df().select(
        "c_nationkey",
        "n_customers",
        (F.col("bal_cents") / F.lit(100.0)).cast("double").alias("sum_bal"),
    )


# --- dml_convert_in_place -------------------------------------------------

_CONVERT_ORACLE = f"""
WITH converted AS (SELECT * FROM customer)
SELECT * FROM converted WHERE c_custkey NOT IN (
  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
UNION ALL
{_APPEND_SQL}
"""


@register("dml_convert_in_place", oracle=_CONVERT_ORACLE)
def dml_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA: a plain-parquet directory becomes a
    versioned table by footer sweep + one log write — zero data
    rewritten (version 0 references the original files by absolute
    path; a test pins that invariant). The converted table then takes
    real DML: a predicate DELETE (copy-on-write rewrites only touched
    files, originals untouched) and an APPEND, proving conversion
    yields a first-class table, not a read-only view."""
    import tempfile

    src_dir = tempfile.mkdtemp(prefix="convert_src_")
    load_table(spark, sf_dir, "customer").coalesce(4).write.mode(
        "overwrite"
    ).parquet(src_dir)
    t = VersionedTable.convert(spark, temp_table_path("conv"), src_dir)
    t.delete(F.col("c_acctbal") < 0)
    t.append(_appended_rows(spark, sf_dir))
    return t.to_df()


# --- dml_constraints_enforced ----------------------------------------------

# CHECK constraints gate every commit (Delta ALTER TABLE ADD
# CONSTRAINT semantics): a valid append lands, an invalid one is
# refused ATOMICALLY (no partial rows, version unchanged), and the
# final state is valid-rows-only — which is exactly what the oracle
# states as a batch query.

_CONSTRAINT_ORACLE = f"""
SELECT * FROM customer
UNION ALL {_APPEND_SQL}
"""


@register("dml_constraints_enforced", oracle=_CONSTRAINT_ORACLE)
def dml_constraints_enforced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_play_spark.table.versioned import ConstraintViolationError

    c = load_table(spark, sf_dir, "customer")
    t = VersionedTable.create(
        spark,
        temp_table_path("ck"),
        c,
        constraints={"key_positive": "c_custkey >= 0"},
    )
    before = t.latest_version()
    t.append(_appended_rows(spark, sf_dir))  # valid: keys > 0
    try:
        t.append(c.limit(5).withColumn("c_custkey", F.lit(-1).cast("bigint")))
        raise AssertionError("constraint violation not raised")
    except ConstraintViolationError:
        pass
    assert t.latest_version() == before + 1  # refused commit left no version
    return t.to_df()


# --- dml_partitioned_table -------------------------------------------------

# Hive-partitioned versioned table: files lay out under
# c_mktsegment=... directories, a partition-aligned DELETE drops whole
# files without reading them, and the read back re-attaches the
# partition column from the directory name.

_PART_TABLE_ORACLE = """
SELECT * FROM customer
WHERE NOT COALESCE(c_mktsegment = 'BUILDING', FALSE)
"""


@register("dml_partitioned_table", oracle=_PART_TABLE_ORACLE)
def dml_partitioned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    t = VersionedTable.create(
        spark, temp_table_path("pt"), c, partition_by=["c_mktsegment"]
    )
    t.delete(F.col("c_mktsegment") == "BUILDING")
    # column order back to the source layout (partition col moves last
    # in storage); the oracle states the source order.
    return t.to_df().select(*c.columns)


# --- dml_symlink_manifest -------------------------------------------------
# Delta `GENERATE symlink_format_manifest`: export a snapshot as a
# plain file list any parquet-reading engine consumes without knowing
# the commit log. The key round-trips a post-DML snapshot through the
# manifest: if the export missed a carried file or leaked a replaced
# one, the content comparison fails.

_SYMLINK_ORACLE = """
SELECT * FROM customer
WHERE NOT COALESCE(c_acctbal < 0, FALSE)
"""


@register("dml_symlink_manifest", oracle=_SYMLINK_ORACLE)
def dml_symlink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_from_customer(spark, sf_dir)
    t.delete(F.col("c_acctbal") < 0)  # copy-on-write: no DVs to refuse
    manifest = t.export_symlink_manifest()
    with open(manifest) as fh:
        paths = [line.strip() for line in fh if line.strip()]
    return spark.read.parquet(*paths)


# --- dml_generated_columns ------------------------------------------------
# Delta GENERATED ALWAYS AS: `day` derives from ts at every write and
# doubles as the hive partition key, so the day-aligned DELETE below
# is partition-aligned (drops whole files). The oracle recomputes the
# same expression in SQL.

_GENCOL_ORACLE = """
SELECT event_id, user_id, value, date_trunc('day', ts) AS day
FROM events
WHERE NOT COALESCE(date_trunc('day', ts) = TIMESTAMP '2024-01-05', FALSE)
"""


@register("dml_generated_columns", oracle=_GENCOL_ORACLE)
def dml_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts"
    )
    t = VersionedTable.create(
        spark,
        temp_table_path("gencol"),
        ev,
        generated={"day": "date_trunc('day', ts)"},
        partition_by=["day"],
    )
    t.delete(F.expr("day = timestamp'2024-01-05 00:00:00'"))
    return t.to_df().select("event_id", "user_id", "value", "day")


# --- dml_cdf_capture (row-level Change Data Feed) --------------------------
# enable_cdf=True tables capture the changed rows AT COMMIT TIME
# (update pre/post images, deletes, merge inserts) into _change_data/
# parquet — table_changes() then serves CDC without snapshot diffing,
# which is what Delta's delta.enableChangeDataFeed provides on top of
# the file-diff feed of dml_change_feed. The oracle recomputes every
# intermediate table state with CTEs and stacks the per-commit feeds.

_CDF_ORACLE = f"""
WITH s0 AS (SELECT * FROM customer),
s1 AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN COALESCE(c_mktsegment = 'BUILDING', FALSE)
              THEN c_acctbal + 50 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM s0
),
s2 AS (SELECT * FROM s1 WHERE NOT COALESCE(c_acctbal < 0, FALSE)),
src AS ({_SRC_SQL})
SELECT *, 'update_preimage' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
FROM s0 WHERE COALESCE(c_mktsegment = 'BUILDING', FALSE)
UNION ALL
SELECT *, 'update_postimage', 1 FROM s1 WHERE COALESCE(c_mktsegment = 'BUILDING', FALSE)
UNION ALL
SELECT *, 'delete', 2 FROM s1 WHERE COALESCE(c_acctbal < 0, FALSE)
UNION ALL
SELECT *, 'update_preimage', 3 FROM s2
WHERE c_custkey IN (SELECT c_custkey FROM src)
UNION ALL
SELECT *, 'update_postimage', 3 FROM src
WHERE c_custkey IN (SELECT c_custkey FROM s2)
UNION ALL
SELECT *, 'insert', 3 FROM src
WHERE c_custkey NOT IN (SELECT c_custkey FROM s2)
"""


# Four registry keys (dml_cdf_capture, dml_cdf_mirror_replay,
# dml_scd2_build, stream_scd2_maintain) consume the SAME
# deterministic 4-commit fixture and only ever READ it (table_changes
# / read(version) / CDF stream) — so it is built once per
# (SparkContext, sf_dir, create-kwargs) and shared. The 4 DML commits
# cost ~4 s warm at sf0.1; rebuilding them per key was the single
# largest fixed overhead in the bench suite (VERDICT r5 ask #4).
_CDF_SCRIPT_CACHE: dict[tuple, VersionedTable] = {}


def _cdf_script(spark: SparkSession, sf_dir: str, **create_kwargs) -> VersionedTable:
    import os as _os

    cache_key = (
        spark.sparkContext.applicationId,
        _os.path.abspath(sf_dir),
        tuple(sorted(create_kwargs.items())),
    )
    cached = _CDF_SCRIPT_CACHE.get(cache_key)
    if cached is not None:
        return cached
    t = VersionedTable.create(
        spark,
        temp_table_path("cdf"),
        load_table(spark, sf_dir, "customer"),
        enable_cdf=True,
        **create_kwargs,
    )                                                            # v0
    t.update({"c_acctbal": F.col("c_acctbal") + 50},
             F.col("c_mktsegment") == "BUILDING")                # v1
    t.delete(F.col("c_acctbal") < 0)                             # v2
    t.merge(_merge_source(spark, sf_dir), key="c_custkey")       # v3
    _CDF_SCRIPT_CACHE[cache_key] = t
    return t


# --- dml_checkpoint_v2 (V2 checkpoints: manifest + sidecars) ---------------
# The modern Delta checkpoint policy (reader-writer table feature
# ``v2Checkpoint``): the uuid-named top-level checkpoint carries only
# checkpointMetadata + protocol/metaData/txn rows plus ``sidecar``
# pointers; the add actions shard across parquet sidecars under
# _delta_log/_sidecars/. At 100 TB this is what keeps checkpointing
# parallel and the manifest O(1). The key proves the full round trip:
# commits → forced V2 checkpoint → JSON prefix DELETED (the log-
# cleanup state) → snapshot reconstructed by the protocol reader from
# manifest + sidecars alone, hash-checked against a batch oracle.

_CHECKPOINT_V2_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 20 = 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 20 = 0
)
SELECT * FROM base WHERE NOT COALESCE(c_acctbal < 0, FALSE)
"""


@register("dml_checkpoint_v2", oracle=_CHECKPOINT_V2_ORACLE)
def dml_checkpoint_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE → APPEND → DELETE on a ``checkpoint_policy="v2"``
    mirrored table, force a checkpoint, DELETE every commit JSON (the
    protocol's cleaned-prefix state), and read the snapshot back
    exclusively through the V2 manifest + sidecars
    (table/delta_log.py::read_delta_snapshot)."""
    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    t = VersionedTable.create(
        spark,
        temp_table_path("cpv2"),
        c,
        delta_mirror=True,
        checkpoint_policy="v2",
    )
    t.append(c.withColumn("c_custkey", F.col("c_custkey") + 1000000))
    t.delete(F.col("c_acctbal") < 0)
    v = t.checkpoint_mirror()
    _drop_commit_jsons(t, v)
    return read_delta_snapshot(spark, t.path)


# --- dml_log_compaction (minor log compaction: <x>.<y>.compacted.json) -----
# Between checkpoints a reader replays up to CHECKPOINT_EVERY small
# JSON commits; Delta's minor compaction collapses a range into one
# reconciled file readers may substitute. The key proves the reader
# actually USES it: the covered commits' JSONs are deleted before the
# protocol read, so only the compacted range can supply the actions.

_LOG_COMPACTION_ORACLE = """
WITH b AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 20 = 1
)
SELECT * FROM (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM b
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment FROM b
) WHERE NOT COALESCE(c_acctbal < 0, FALSE)
UNION ALL
SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, c_mktsegment FROM b
"""


@register("dml_log_compaction", oracle=_LOG_COMPACTION_ORACLE)
def dml_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE → APPEND → DELETE → APPEND on a mirrored table, compact
    commits [1, 3] into one ``<x>.<y>.compacted.json``, delete those
    commits' JSONs, and read the snapshot back through the protocol
    reader — which must substitute the compacted range."""
    import os as _os

    from delta_lake_play_spark.table.delta_log import (
        read_delta_snapshot,
        write_log_compaction,
    )

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 1)
    t = VersionedTable.create(
        spark, temp_table_path("logc"), c, delta_mirror=True
    )
    t.append(c.withColumn("c_custkey", F.col("c_custkey") + 1000000))  # v1
    t.delete(F.col("c_acctbal") < 0)                                   # v2
    t.append(c.withColumn("c_custkey", F.col("c_custkey") + 2000000))  # v3
    write_log_compaction(t, 1, 3)
    ddir = _os.path.join(t.path, "_delta_log")
    for v in (1, 2, 3):
        _os.remove(_os.path.join(ddir, f"{v:020d}.json"))
    return read_delta_snapshot(spark, t.path, version=3)


# --- dml_log_cleanup (metadata retention: delta.logRetentionDuration) ------
# The mirror counterpart of VACUUM for metadata: once a checkpoint
# covers a prefix, its JSON commits / compacted ranges / superseded
# checkpoints are deletable after the retention window, with V2
# sidecars GC'd by reference count. The key proves the reader
# REPLAYS CORRECTLY from the surviving checkpoint + JSON tail: the
# cleaned prefix cannot supply any action.

_LOG_CLEANUP_ORACLE = """
WITH b AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 20 = 3
)
SELECT * FROM (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM b
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment FROM b
) WHERE NOT COALESCE(c_acctbal > 5000, FALSE)
UNION ALL
SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, c_mktsegment FROM b
"""


@register("dml_log_cleanup", oracle=_LOG_CLEANUP_ORACLE)
def dml_log_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE → APPEND → DELETE → checkpoint → APPEND on a mirrored
    table, then ``cleanup_log_mirror(retention=0)`` — the expired
    prefix (v0..v2 JSONs and any superseded checkpoint) is physically
    deleted — and the snapshot is read back through the protocol
    reader from the surviving checkpoint + JSON tail alone."""
    import os as _os

    from delta_lake_play_spark.table.delta_log import (
        _COMMIT_RE,
        read_delta_snapshot,
    )

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 3)
    t = VersionedTable.create(
        spark, temp_table_path("loggc"), c, delta_mirror=True
    )
    t.append(c.withColumn("c_custkey", F.col("c_custkey") + 1000000))  # v1
    t.delete(F.col("c_acctbal") > 5000)                                 # v2
    t.checkpoint_mirror()                                               # cp @ 2
    t.append(c.withColumn("c_custkey", F.col("c_custkey") + 2000000))  # v3
    future = int(_os.path.getmtime(t.path) * 1000) + 10_000_000
    deleted = t.cleanup_log_mirror(retention_ms=0, now_ms=future)
    assert any(_COMMIT_RE.match(fn) for fn in deleted), deleted
    return read_delta_snapshot(spark, t.path)


@register("dml_cdf_capture", oracle=_CDF_ORACLE)
def dml_cdf_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE → DELETE → MERGE on a CDF-enabled table, read back via
    table_changes(1, 3): exact pre/post images per commit, each read
    from change-sized capture files (never a snapshot diff)."""
    t = _cdf_script(spark, sf_dir)
    return t.table_changes(1, 3).drop("_commit_timestamp")


@register("dml_cdf_mirror_replay", oracle=_CDF_ORACLE)
def dml_cdf_mirror_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same CDF script on a delta_mirror=True table, read back
    EXCLUSIVELY through the protocol ``cdc`` actions in _delta_log
    (table/delta_log.py::read_delta_changes) — hash-matching the same
    oracle proves the open-format change feed carries the exact same
    rows an external Delta CDF client would read."""
    from delta_lake_play_spark.table.delta_log import read_delta_changes

    t = _cdf_script(spark, sf_dir, delta_mirror=True)
    return read_delta_changes(spark, t.path, 1, 3).drop("_commit_timestamp")


# --- dml_rename_drop_column (column mapping: metadata-only ALTER) ----------

_RENAME_ORACLE = """
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN COALESCE(c_nationkey < 5, FALSE)
            THEN c_acctbal + 10 ELSE c_acctbal END AS balance
FROM customer
"""


@register("dml_rename_drop_column", oracle=_RENAME_ORACLE)
def dml_rename_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME/DROP COLUMN as metadata-only commits (Delta
    column-mapping semantics, table/versioned.py): physical parquet
    names are stable, the logical schema moves, zero data bytes
    rewritten at any table size — then an UPDATE runs against the NEW
    name to prove DML reads through the map. The oracle recomputes
    the surviving columns under their final names."""
    t = _fresh_from_customer(spark, sf_dir)
    t.rename_column("c_acctbal", "balance")                      # v1 meta-only
    t.update({"balance": F.col("balance") + 10},
             F.col("c_nationkey") < 5)                           # v2 via map
    t.drop_column("c_mktsegment")                                # v3 meta-only
    return t.to_df()


# --- dml_identity_column (GENERATED ALWAYS AS IDENTITY) --------------------

_IDENTITY_ORACLE = """
WITH survivors AS (
  SELECT * FROM customer WHERE NOT COALESCE(c_nationkey = 0, FALSE)
),
appended AS (
  SELECT LEAST(500, COUNT(*)) AS n FROM customer
)
SELECT CAST((SELECT COUNT(*) FROM survivors) + (SELECT n FROM appended) AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM survivors) + (SELECT n FROM appended) AS BIGINT) AS n_ids,
       TRUE AS ids_start_ok,
       TRUE AS append_above_create
"""


@register("dml_identity_column", oracle=_IDENTITY_ORACLE)
def dml_identity_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity columns (Delta ``GENERATED ALWAYS AS IDENTITY``,
    writer version 6; the reference's table layer has no surrogate
    keys — ``spark_project.py:26-37``): collect-free assignment via
    ``monotonically_increasing_id`` offsets above a commit-logged
    high-water mark recovered from footer max-stats, so a DELETE can
    never cause id reuse and racing appends land disjoint ranges.
    Values are nondeterministic (gaps allowed, like Delta), so the
    oracle checks the INVARIANTS: every surviving row has an id, ids
    are globally unique, none is below START, and the post-delete
    append landed strictly above the create batch's ids."""
    cust = load_table(spark, sf_dir, "customer")
    t = VersionedTable.create(
        spark,
        temp_table_path("identity"),
        cust,
        identity={"column": "row_id", "start": 1000, "step": 1},
    )
    create_max = t.to_df().agg(F.max("row_id")).collect()[0][0]
    t.delete(F.col("c_nationkey") == 0)  # ids of deleted rows retire
    appended = cust.orderBy("c_custkey").limit(500)
    n_appended = appended.count()  # < 500 on a tiny fixture
    t.append(appended)
    df = t.to_df()
    return df.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("row_id").alias("n_ids"),
        (F.min("row_id") >= F.lit(1000)).alias("ids_start_ok"),
        # exactly the appended rows sit above the create batch's
        # max id — so the watermark advanced AND survivors kept theirs
        (
            F.sum((F.col("row_id") > F.lit(create_max)).cast("long"))
            == F.lit(n_appended)
        ).alias("append_above_create"),
    )


# --- dml_row_tracking (Delta rowTracking: fresh row-id ranges) ------------

_ROW_TRACKING_ORACLE = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nation),
     a AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nation WHERE n_regionkey = 0),
     d AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nation WHERE n_regionkey = 1)
SELECT 0 AS version, n.c AS num_rows, n.c - 1 AS row_id_hwm FROM n
UNION ALL
SELECT 1, n.c + a.c, n.c + a.c - 1 FROM n, a
UNION ALL
SELECT 2, n.c + a.c - d.c, n.c + a.c - 1 FROM n, a, d
UNION ALL
SELECT 3, n.c + 2*a.c - d.c, n.c + 2*a.c - 1 FROM n, a, d
"""


@register("dml_row_tracking", oracle=_ROW_TRACKING_ORACLE)
def dml_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking (Delta ``delta.enableRowTracking``, writer
    feature ``rowTracking`` + ``domainMetadata`` under protocol
    (1, 7)): every file added gets a contiguous fresh row-id range
    above a commit-logged high-water mark — zero extra jobs, the
    ranges come from footer row counts already in hand — and the
    mirror emits ``baseRowId``/``defaultRowCommitVersion`` on add
    actions plus the ``delta.rowTracking`` domainMetadata action.

    Script: CREATE (partitioned by n_regionkey, mirrored) → APPEND
    the region-0 rows shifted → partition-aligned DELETE of region 1
    (drops whole files, no rewrite, mark unchanged — ids are never
    reused) → APPEND again (continues above the mark). Output is the
    per-version (num_rows, row_id_hwm) trajectory; the mark
    arithmetic is file-layout-independent, so the oracle states it
    from pure counts. Range disjointness per snapshot is asserted
    in-key (raise on violation) and pinned with the mirror layout in
    tests/test_row_tracking.py."""
    n = load_table(spark, sf_dir, "nation")
    t = VersionedTable.create(
        spark,
        temp_table_path("rowtrack"),
        n,
        partition_by=["n_regionkey"],
        delta_mirror=True,
        row_tracking=True,
    )
    extra = n.where(F.col("n_regionkey") == 0).select(
        (F.col("n_nationkey") + 1000).alias("n_nationkey"),
        F.concat(F.col("n_name"), F.lit("-X")).alias("n_name"),
        *[c for c in n.columns if c not in ("n_nationkey", "n_name")],
    ).select(*n.columns)
    t.append(extra)
    t.delete("n_regionkey = 1")
    extra2 = extra.withColumn("n_nationkey", F.col("n_nationkey") + 1000)
    t.append(extra2)
    rows = []
    for v in sorted(t._versions()):
        e = t._read_log_raw(v)
        spans = sorted(
            (f["baseRowId"], f["baseRowId"] + f["num_rows"])
            for f in t._read_log(v)["files"]
            if f["num_rows"] > 0
        )
        for i in range(len(spans) - 1):
            if spans[i][1] > spans[i + 1][0]:
                raise AssertionError(
                    f"row-id ranges overlap at v{v}: {spans[i]} / {spans[i + 1]}"
                )
        rows.append((v, int(e["num_rows"]), int(e["rowIdHighWaterMark"])))
    return local_df(spark, rows, "version int, num_rows bigint, row_id_hwm bigint")


# --- dml_in_commit_timestamps (Delta inCommitTimestamp feature) -----------

_ICT_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
UNION ALL
SELECT n_nationkey + 1000, n_name || '-X', n_regionkey
FROM nation WHERE n_regionkey = 0
"""


@register("dml_in_commit_timestamps", oracle=_ICT_ORACLE)
def dml_in_commit_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-commit timestamps (Delta writer feature
    ``inCommitTimestamp``, protocol (1, 7)): the commit's clock lives
    IN the commit (``commitInfo.inCommitTimestamp``), not in file
    modification times — so external timestamp travel survives log
    copy/restore. The private log's strictly-increasing commit
    timestamps are already that clock; the feature declares it.

    Script: CREATE (mirrored, ICT) → two APPENDs; assert every mirror
    commit's inCommitTimestamp equals the private log's ms timestamp
    and strictly increases; then timestamp-travel THROUGH THE
    PROTOCOL READER to v1's in-commit time and return that snapshot
    (nation + first append), which the oracle states directly."""
    import os as _os

    from delta_lake_play_spark.table.delta_log import (
        _commit_actions,
        _ts_ms,
        read_delta_snapshot,
        resolve_delta_timestamp,
    )

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    t = VersionedTable.create(
        spark,
        temp_table_path("ict"),
        n,
        delta_mirror=True,
        in_commit_timestamps=True,
    )
    extra = n.where(F.col("n_regionkey") == 0).select(
        (F.col("n_nationkey") + 1000).alias("n_nationkey"),
        F.concat(F.col("n_name"), F.lit("-X")).alias("n_name"),
        "n_regionkey",
    )
    t.append(extra)
    t.append(extra.withColumn("n_nationkey", F.col("n_nationkey") + 1000))
    ddir = _os.path.join(t.path, "_delta_log")
    icts = {}
    for v in sorted(t._versions()):
        path = _os.path.join(ddir, f"{v:020d}.json")
        info = list(_commit_actions(path))[0]["commitInfo"]
        icts[v] = info["inCommitTimestamp"]
        if icts[v] != _ts_ms(t._read_log_raw(v)["timestamp"]):
            raise AssertionError(f"v{v}: inCommitTimestamp != private clock")
    if not (icts[0] < icts[1] < icts[2]):
        raise AssertionError(f"in-commit timestamps not increasing: {icts}")
    v = resolve_delta_timestamp(t.path, icts[1])
    if v != 1:
        raise AssertionError(f"ICT travel to v1's clock resolved v{v}")
    return read_delta_snapshot(spark, t.path, version=v)


# --- dml_scd2_build (SCD type-2 dimension from the change feed) -----------

_SCD2_ORACLE = f"""
WITH s0 AS (SELECT * FROM customer),
s1 AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN COALESCE(c_mktsegment = 'BUILDING', FALSE)
              THEN c_acctbal + 50 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM s0
),
s2 AS (SELECT * FROM s1 WHERE NOT COALESCE(c_acctbal < 0, FALSE)),
src AS ({_SRC_SQL}),
events AS (
  SELECT *, 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version FROM s0
  UNION ALL
  SELECT *, 'update_preimage', 1 FROM s0 WHERE COALESCE(c_mktsegment = 'BUILDING', FALSE)
  UNION ALL
  SELECT *, 'update_postimage', 1 FROM s1 WHERE COALESCE(c_mktsegment = 'BUILDING', FALSE)
  UNION ALL
  SELECT *, 'delete', 2 FROM s1 WHERE COALESCE(c_acctbal < 0, FALSE)
  UNION ALL
  SELECT *, 'update_preimage', 3 FROM s2
  WHERE c_custkey IN (SELECT c_custkey FROM src)
  UNION ALL
  SELECT *, 'update_postimage', 3 FROM src
  WHERE c_custkey IN (SELECT c_custkey FROM s2)
  UNION ALL
  SELECT *, 'insert', 3 FROM src
  WHERE c_custkey NOT IN (SELECT c_custkey FROM s2)
),
ev AS (
  SELECT *, _change_type IN ('delete', 'update_preimage') AS is_close
  FROM events
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       _commit_version AS valid_from,
       CAST(valid_to AS BIGINT) AS valid_to,
       valid_to IS NULL AS is_current
FROM (
  SELECT *, min(CASE WHEN is_close THEN _commit_version END) OVER (
      PARTITION BY c_custkey
      ORDER BY _commit_version DESC, is_close
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS valid_to
  FROM ev
) WHERE NOT is_close
"""


@register("dml_scd2_build", oracle=_SCD2_ORACLE)
def dml_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 slowly-changing dimension from the Change Data
    Feed — the production warehouse composite: the initial snapshot
    seeds version-0 opens, every insert/update_postimage opens a
    row, every delete/update_preimage closes the newest still-open
    row for that key. The close assignment is ONE windowed pass
    (per-key min close-version strictly after each open, via a
    (version DESC, is_close) ordering with an exclusive frame), so
    the whole build is a single keyed shuffle over change-sized
    input — never a self-join, never a snapshot diff. Handles
    delete→re-insert (the v2-deleted keys re-inserted by the v3
    MERGE get a closed row and a fresh current row)."""
    from pyspark.sql.window import Window

    t = _cdf_script(spark, sf_dir)
    cols = t.read(version=0).columns
    snap0 = (
        t.read(version=0)
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.lit(0).cast("long"))
    )
    feed = t.table_changes(1, 3).drop("_commit_timestamp")
    ev = snap0.unionByName(feed).withColumn(
        "is_close", F.col("_change_type").isin("delete", "update_preimage")
    )
    w = (
        Window.partitionBy("c_custkey")
        .orderBy(F.desc("_commit_version"), F.asc("is_close"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scd = ev.withColumn(
        "valid_to",
        F.min(
            F.when(F.col("is_close"), F.col("_commit_version"))
        ).over(w),
    )
    return scd.where(~F.col("is_close")).select(
        *cols,
        F.col("_commit_version").alias("valid_from"),
        F.col("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


# --- dml_incremental_join_mv ----------------------------------------------
#
# Incrementally-maintained JOIN materialized view (the denormalized
# silver→gold shape): mv = orders ⋈ customer, kept current after DML
# on BOTH base tables by keyed recompute — the change feeds of the
# two sides name the touched join keys, the mv slice for exactly
# those keys is recomputed from the current snapshots, and
# overwrite_for_keys swaps it in one atomic commit. Per-refresh cost
# is O(changed keys' rows) regardless of table size: the key set is
# change-sized, membership is a broadcast semi-join (never a driver
# IN-list), and unaffected keys' files are never rewritten. The
# oracle recomputes the view from scratch, so the hash proves
# incremental maintenance == full recompute across an append + a
# delete on the fact side and an update on the dim side.

_JOIN_MV_ORACLE = """
WITH ord0 AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_custkey <= 300
),
ord1 AS (
  SELECT * FROM ord0
  WHERE NOT (o_orderstatus = 'F' AND o_custkey % 10 = 3)
),
appended AS (
  SELECT 9000000 + c_custkey AS o_orderkey, c_custkey AS o_custkey,
         CAST(1000.5 AS DOUBLE) AS o_totalprice,
         'O' AS o_orderstatus
  FROM customer WHERE c_custkey <= 300 AND c_custkey % 97 = 0
),
ordN AS (SELECT * FROM ord1 UNION ALL SELECT * FROM appended),
custN AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 50 = 7 THEN c_name || '*' ELSE c_name END
           AS c_name,
         c_nationkey
  FROM customer
)
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
       c_name, c_nationkey
FROM ordN JOIN custN ON o_custkey = c_custkey
"""


@register("dml_incremental_join_mv", oracle=_JOIN_MV_ORACLE)
def dml_incremental_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer MV maintained by change-feed-keyed slice
    recompute: append + delete on orders, update on customer, one
    overwrite_for_keys refresh; hash-proven equal to full recompute."""
    ord_t = VersionedTable.create(
        spark,
        temp_table_path("mv-ord"),
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 300)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
    )
    cust_t = VersionedTable.create(
        spark,
        temp_table_path("mv-cust"),
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey"
        ),
    )

    def mv_join(o: DataFrame, c: DataFrame) -> DataFrame:
        return o.join(c, o.o_custkey == c.c_custkey).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderstatus",
            "c_name",
            "c_nationkey",
        )

    mv = VersionedTable.create(
        spark,
        temp_table_path("mv"),
        mv_join(ord_t.to_df(), cust_t.to_df()),
    )

    # DML on both base tables -------------------------------------------
    ord_t.delete(
        (F.col("o_orderstatus") == "F") & (F.col("o_custkey") % 10 == 3)
    )
    ord_t.append(
        cust_t.to_df()
        .where((F.col("c_custkey") <= 300) & (F.col("c_custkey") % 97 == 0))
        .select(
            (F.lit(9000000) + F.col("c_custkey")).alias("o_orderkey"),
            F.col("c_custkey").alias("o_custkey"),
            F.lit(1000.5).alias("o_totalprice"),
            F.lit("O").alias("o_orderstatus"),
        )
    )
    cust_t.update(
        {"c_name": F.concat(F.col("c_name"), F.lit("*"))},
        F.col("c_custkey") % 50 == 7,
    )

    # Keyed incremental refresh -----------------------------------------
    keys = (
        ord_t.changes(0)
        .select(F.col("o_custkey").alias("k"))
        .unionByName(cust_t.changes(0).select(F.col("c_custkey").alias("k")))
        .distinct()
        .select(F.col("k").alias("o_custkey"))
    )
    slice_rows = mv_join(
        ord_t.to_df().join(F.broadcast(keys), "o_custkey", "leftsemi"),
        cust_t.to_df().join(
            F.broadcast(keys.select(F.col("o_custkey").alias("c_custkey"))),
            "c_custkey",
            "leftsemi",
        ),
    )
    mv.overwrite_for_keys(slice_rows, "o_custkey", keys_df=keys)
    return mv.to_df()


# --- dml_optimize_where (partition-scoped compaction) -----------------------
# Delta's OPTIMIZE ... WHERE: compact ONLY the partitions the
# predicate selects; every other file is carried by reference. At
# 100 TB this is the nightly job — compact yesterday's partition
# after the backfill, never rewrite the table. Pruning evaluates the
# predicate per file on its hive partition VALUES (O(#files) driver
# metadata, zero data reads); the oracle is content identity, and the
# file-level claims (scoped rewrite, carry-by-reference, no-op on an
# empty scope) are pinned in tests/test_versioned_table.py.

_OPT_WHERE_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
UNION ALL
SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
"""


@register("dml_optimize_where", oracle=_OPT_WHERE_ORACLE)
def dml_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two commits of small files into a segment-partitioned table,
    then OPTIMIZE scoped to one segment: that partition compacts to
    one file, the rest are carried untouched, content is identical."""
    c = load_table(spark, sf_dir, "customer")
    t = VersionedTable.create(
        spark,
        temp_table_path("optw"),
        c.repartition(4),
        partition_by=["c_mktsegment"],
    )
    t.append(
        c.withColumn("c_custkey", F.col("c_custkey") + 1000000).repartition(4)
    )
    t.optimize(target_files=1, where="c_mktsegment = 'BUILDING'")
    return t.to_df().select(*c.columns)


# --- dml_cluster_by (clustered tables / liquid clustering) ------------------
# Delta clustered tables: clustering columns are DECLARED table state
# (domain ``delta.clustering`` + writer feature ``clustering``), and
# OPTIMIZE applies them without being told the columns. The key proves
# the full lifecycle through the protocol reader: declare at CREATE,
# alter with set_cluster_by, plain optimize() picks the declared
# columns up, then checkpoint + JSON cleanup — the domainMetadata must
# survive into the checkpoint for the replayed clustering_cols literal
# (and therefore the value hash) to match the oracle.

_CLUSTER_BY_ORACLE = """
SELECT c_custkey, c_name, c_acctbal,
       'c_nationkey,c_acctbal' AS clustering_cols
FROM customer WHERE c_custkey BETWEEN 10 AND 60
"""


@register("dml_cluster_by", oracle=_CLUSTER_BY_ORACLE)
def dml_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE CLUSTER BY (c_custkey) → ALTER CLUSTER BY (c_nationkey,
    c_acctbal) → plain OPTIMIZE (applies the DECLARED columns) →
    checkpoint, delete every commit JSON, and read back exclusively
    through the protocol reader — data rows from the checkpoint, the
    clustering declaration from the replayed ``delta.clustering``
    domainMetadata. A lost or stale domain changes clustering_cols
    and fails the value hash."""
    from delta_lake_play_spark.table.delta_log import (
        read_delta_domains,
        read_delta_snapshot,
    )

    c = load_table(spark, sf_dir, "customer")
    t = VersionedTable.create(
        spark,
        temp_table_path("clby"),
        c.repartition(4),
        delta_mirror=True,
        cluster_by=["c_custkey"],
    )
    t.set_cluster_by(["c_nationkey", "c_acctbal"])   # v1: ALTER, O(1)
    t.optimize(target_files=4)                        # v2: declared layout
    v = t.checkpoint_mirror()
    _drop_commit_jsons(t, v)
    domains = read_delta_domains(t.path)
    cols = [
        p[0]
        for p in domains.get("delta.clustering", {}).get(
            "clusteringColumns", []
        )
    ]
    return (
        read_delta_snapshot(spark, t.path)
        .filter(F.col("c_custkey").between(10, 60))
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(",".join(cols)).alias("clustering_cols"),
        )
    )


# --- dml_append_only (delta.appendOnly enforcement) --------------------------
# Delta's oldest writer-enforced table property (legacy writer-2
# feature appendOnly): row-changing DML is refused, appends are legal.
# The key PROVES enforcement in-band: every blocked operation must
# raise AppendOnlyError or the query returns a poisoned marker row set
# (hash mismatch); the surviving content is the two appends, read back
# through the protocol reader with the delta.appendOnly property
# visible in the replayed metaData.

_APPEND_ONLY_ORACLE = """
SELECT c_custkey, c_name, c_acctbal, 'enforced' AS append_only
FROM customer WHERE c_custkey % 4 = 0
UNION ALL
SELECT c_custkey + 1000000, c_name, c_acctbal, 'enforced' AS append_only
FROM customer WHERE c_custkey % 4 = 1
"""


@register("dml_append_only", oracle=_APPEND_ONLY_ORACLE)
def dml_append_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE append_only → two appends → DELETE / UPDATE / MERGE /
    replaceWhere all refused (AppendOnlyError) → content is exactly
    the appends. The mirror's metaData carries delta.appendOnly=true,
    checked from the raw v0 commit JSON; enforcement failures poison
    the output marker instead of silently passing."""
    import os as _os

    from delta_lake_play_spark.table.delta_log import _commit_actions
    from delta_lake_play_spark.table.versioned import AppendOnlyError

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = VersionedTable.create(
        spark,
        temp_table_path("aponly"),
        c.filter(F.col("c_custkey") % 4 == 0),
        delta_mirror=True,
        append_only=True,
    )
    t.append(
        c.filter(F.col("c_custkey") % 4 == 1).withColumn(
            "c_custkey", F.col("c_custkey") + 1000000
        )
    )
    blocked = 0
    for op in (
        lambda: t.delete(F.col("c_acctbal") < 0),
        lambda: t.delete_mor(F.col("c_acctbal") < 0),
        lambda: t.update({"c_name": F.lit("x")}, F.col("c_custkey") == 0),
        lambda: t.merge(
            c.filter(F.col("c_custkey") % 4 == 0).limit(1), key="c_custkey"
        ),
        lambda: t.overwrite_where(c.limit(0), F.col("c_custkey") < 0),
    ):
        try:
            op()
        except AppendOnlyError:
            blocked += 1
    metas = [
        a["metaData"]
        for a in _commit_actions(
            _os.path.join(t.path, "_delta_log", f"{0:020d}.json")
        )
        if "metaData" in a
    ]
    prop = metas[0].get("configuration", {}).get("delta.appendOnly")
    marker = "enforced" if blocked == 5 and prop == "true" else (
        f"BROKEN blocked={blocked} prop={prop}"
    )
    return t.to_df().select(
        "c_custkey", "c_name", "c_acctbal", F.lit(marker).alias("append_only")
    )


# --- dml_dv_native_protocol (deletionVectors reader-writer feature) ---------
# The mirror's last protocol gap closed (r8): MoR deletes previously
# required survivor MATERIALIZATION because protocol (1,2) has no DV
# representation; dv_mirror_policy="native" instead emits the real
# deletionVectors feature — roaring-bitmap .bin files (table/
# dv_codec.py), add actions carrying {storageType "u", z85 uuid,
# offset, sizeInBytes, cardinality}, protocol (3,7) with the feature
# in BOTH lists. A point delete on a 100 TB table mirrors with ZERO
# data bytes rewritten on either side. The key proves the reader path:
# two overlapping MoR deletes, checkpoint, delete every commit JSON,
# and the masked snapshot must come back through the protocol reader
# applying the bitmaps (a dropped or mis-decoded DV returns deleted
# rows and fails the hash).

_DV_NATIVE_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT COALESCE(c_acctbal < 0, FALSE)
  AND c_custkey % 10 <> 3
"""


@register("dml_dv_native_protocol", oracle=_DV_NATIVE_ORACLE)
def dml_dv_native_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE (native DV mirror) → two MoR deletes (DV union on
    overlapping files) → checkpoint → delete ALL commit JSON → read
    back exclusively through the protocol reader, which decodes the
    roaring bitmaps and anti-joins (file, row_index) — the same plan
    shape as the private MoR read."""
    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = VersionedTable.create(
        spark,
        temp_table_path("dvnat"),
        c.repartition(4),
        delta_mirror=True,
        dv_mirror_policy="native",
    )
    t.delete_mor(F.col("c_acctbal") < 0)        # v1
    t.delete_mor(F.col("c_custkey") % 10 == 3)  # v2: union on same files
    v = t.checkpoint_mirror()
    _drop_commit_jsons(t, v)
    return read_delta_snapshot(spark, t.path)


# --- dml_vacuum_protocol_check (vacuumProtocolCheck marker feature) ----------
# PROTOCOL.md's vacuumProtocolCheck: a reader-writer MARKER feature
# whose only obligation is that VACUUM verify it understands the
# table's protocol BEFORE reclaiming files — an implementation that
# skips the check could delete files an unknown writer feature's
# scheme still references (the spec's motivating bug class). The key
# proves all three legs in-band: (a) the feature lands in BOTH
# protocol lists at reader 3 / writer 7, (b) vacuum against a forged
# protocol demanding an unknown writer feature REFUSES, (c) after the
# forged commit is withdrawn the same vacuum proceeds and the final
# content matches the oracle. Any leg failing poisons the marker
# column, so a silent regression can't keep the hash green.

_VACUUM_PROTO_ORACLE = """
SELECT c_custkey, c_name, c_acctbal,
       'checked' AS vacuum_protocol
FROM customer
WHERE NOT COALESCE(c_acctbal < 0, FALSE)
"""


@register("dml_vacuum_protocol_check", oracle=_VACUUM_PROTO_ORACLE)
def dml_vacuum_protocol_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE (mirror + vacuum_protocol_check) → DELETE (orphans the
    v0 files) → forge an external protocol upgrade naming an unknown
    writer feature → VACUUM must refuse → withdraw the forgery →
    VACUUM proceeds → latest read survives."""
    import json as _json
    import os as _os

    from delta_lake_play_spark.table.delta_log import (
        DeltaMirrorError,
        _commit_actions,
        _commit_versions,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = VersionedTable.create(
        spark,
        temp_table_path("vpc"),
        c,
        delta_mirror=True,
        vacuum_protocol_check=True,
    )
    t.delete(F.col("c_acctbal") < 0)  # v1: v0's files become orphans

    ddir = _os.path.join(t.path, "_delta_log")
    protos = [
        a["protocol"]
        for a in _commit_actions(_os.path.join(ddir, f"{0:020d}.json"))
        if "protocol" in a
    ]
    p = protos[0] if protos else {}
    declared = (
        p.get("minReaderVersion") == 3
        and p.get("minWriterVersion") == 7
        and "vacuumProtocolCheck" in (p.get("readerFeatures") or [])
        and "vacuumProtocolCheck" in (p.get("writerFeatures") or [])
    )

    # forge an external writer's protocol upgrade with a feature this
    # implementation does not know
    forged = dict(p)
    forged["writerFeatures"] = list(p.get("writerFeatures") or []) + [
        "futureCompactionScheme"
    ]
    nxt = max(_commit_versions(ddir)) + 1
    forged_path = _os.path.join(ddir, f"{nxt:020d}.json")
    with open(forged_path, "w") as fh:
        fh.write(_json.dumps({"protocol": forged}) + "\n")
    refused = False
    try:
        t.vacuum(retain_last=1, min_age_seconds=0)
    except DeltaMirrorError:
        refused = True
    _os.remove(forged_path)

    t.vacuum(retain_last=1, min_age_seconds=0)  # now legal
    marker = (
        "checked"
        if declared and refused
        else f"BROKEN declared={declared} refused={refused}"
    )
    return t.to_df().select(
        "c_custkey", "c_name", "c_acctbal",
        F.lit(marker).alias("vacuum_protocol"),
    )


# --- dml_checkpoint_multipart (split classic checkpoints) -------------------
# delta-spark splits classic checkpoints past checkpoint.partSize
# into <v>.checkpoint.<part>.<total>.parquet files — at 100 TB a
# single-file checkpoint is both a write bottleneck and an
# un-parallelizable read, so the split form is what real large tables
# carry. The key proves the full round trip on OUR writer: commits →
# checkpoint_mirror(parts=2) → every commit JSON deleted → snapshot
# reconstructed from the part files alone, with the part layout and
# the _last_checkpoint "parts" field asserted in-band (a wrong layout
# poisons the marker and fails the hash).

_CHECKPOINT_MP_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 20 = 1
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 20 = 1
)
SELECT *, 'parts=2' AS cp_layout
FROM base WHERE NOT COALESCE(c_acctbal < 0, FALSE)
"""


@register("dml_checkpoint_multipart", oracle=_CHECKPOINT_MP_ORACLE)
def dml_checkpoint_multipart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE → APPEND → DELETE on a mirrored table, force a 2-part
    classic checkpoint, DELETE every commit JSON, and read the
    snapshot back exclusively through the part files."""
    import json as _json
    import os as _os

    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 1)
    t = VersionedTable.create(
        spark, temp_table_path("cpmp"), c, delta_mirror=True
    )
    t.append(c.withColumn("c_custkey", F.col("c_custkey") + 1000000))
    t.delete(F.col("c_acctbal") < 0)
    v = t.checkpoint_mirror(parts=2)
    ddir = _os.path.join(t.path, "_delta_log")
    names = sorted(
        fn for fn in _os.listdir(ddir) if f"{v:020d}.checkpoint." in fn
    )
    lc = _json.load(open(_os.path.join(ddir, "_last_checkpoint")))
    ok = (
        names
        == [f"{v:020d}.checkpoint.{i:010d}.{2:010d}.parquet" for i in (1, 2)]
        and lc.get("parts") == 2
        and lc.get("version") == v
    )
    _drop_commit_jsons(t, v)
    marker = "parts=2" if ok else f"BROKEN names={names} lc={lc}"
    return read_delta_snapshot(spark, t.path).withColumn(
        "cp_layout", F.lit(marker)
    )


# --- dml_update_mor: merge-on-read UPDATE via deletion vectors ---------------
# Delta's DV-backed UPDATE: mask the matched positions (zero survivor
# rows rewritten) and append one change-sized file with the updated
# versions, atomically. The read-back proves mask+append compose:
# originals invisible, updated rows present, everything else carried
# by reference. A follow-up MoR DELETE on an updated row must mask
# the NEW file's row — DVs attach to whichever file holds the live
# version.

_UPDATE_MOR_ORACLE = """
WITH upd AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS c_acctbal,
         CASE WHEN c_acctbal < 0 THEN 'RECOVERED' ELSE c_mktsegment END
           AS c_mktsegment,
         c_nationkey
  FROM customer
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM upd
WHERE NOT COALESCE(c_mktsegment = 'RECOVERED' AND c_custkey % 2 = 0, FALSE)
"""


@register("dml_update_mor", oracle=_UPDATE_MOR_ORACLE)
def dml_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR UPDATE (negative balances zeroed and re-segmented, masks +
    one appended file) then a MoR DELETE of half the updated rows —
    the delete must mask rows living in the UPDATE's new file."""
    t = _fresh_from_customer(spark, sf_dir)                       # v0
    t.update_mor(
        {
            "c_acctbal": F.lit(0.0),
            "c_mktsegment": F.lit("RECOVERED"),
        },
        F.col("c_acctbal") < 0,
    )                                                             # v1
    t.delete_mor(
        (F.col("c_mktsegment") == "RECOVERED") & (F.col("c_custkey") % 2 == 0)
    )                                                             # v2
    return t.to_df().select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
