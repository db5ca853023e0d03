"""MERGE runs one of two probes, selected from the source's plan: a
``LocalRelation`` source (driver-held rows, e.g. ``local_df``) is
checked and probed on the driver, any other source through the
aggregated probe job. The same rows through either path must give the
same table, the same errors and the same change feed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.local import _local_relation, local_df
from delta_lake_play_spark.table.versioned import (
    MergeSourceKeyError,
    VersionedTable,
    temp_table_path,
)

SCHEMA = "id int, name string, v long"
SEED = [(1, "a", 1), (2, "b", 2), (3, "c", 3)]


def _sources(spark, rows, schema=SCHEMA):
    """The same rows as a LocalRelation and as a distributed plan."""
    local = local_df(spark, rows, schema)
    distributed = local.repartition(2)
    assert _local_relation(local) is not None
    assert _local_relation(distributed) is None
    return {"local": local, "distributed": distributed}


def _merge_both(spark, src_rows, seed=SEED, schema=SCHEMA, **merge_kwargs):
    """MERGE ``src_rows`` on ``id`` into a fresh copy of ``seed`` once
    per path; returns {path: sorted table rows}."""
    out = {}
    for path, src in _sources(spark, src_rows, schema).items():
        t = VersionedTable.create(
            spark, temp_table_path(f"merge-{path}"), local_df(spark, seed, schema)
        )
        assert t.merge(src, key="id", **merge_kwargs) == 1
        out[path] = sorted(map(tuple, t.to_df().collect()), key=repr)
    return out


def test_update_and_insert_agree(spark):
    got = _merge_both(spark, [(2, "B", 20), (9, "Q", 90), (3, "C", 30)])
    want = sorted(
        [(1, "a", 1), (2, "B", 20), (3, "C", 30), (9, "Q", 90)], key=repr
    )
    assert got == {"local": want, "distributed": want}


@pytest.mark.parametrize(
    "schema, seed, rows, shown",
    [
        (SCHEMA, SEED, [(2, "x", 1), (7, "y", 2), (2, "z", 3)], "'2'"),
        (SCHEMA, SEED, [(None, "x", 1), (None, "y", 2)], "None"),
        (
            "id double, name string, v long",
            [(1.0, "a", 1)],
            [(float("nan"), "x", 1), (float("nan"), "y", 2)],
            "'NaN'",
        ),
    ],
    ids=["int", "null", "nan"],
)
def test_duplicate_keys_raise_on_both_paths(spark, schema, seed, rows, shown):
    for path, src in _sources(spark, rows, schema).items():
        t = VersionedTable.create(
            spark, temp_table_path(f"dup-{path}"), local_df(spark, seed, schema)
        )
        with pytest.raises(MergeSourceKeyError, match=f"key id={shown}$"):
            t.merge(src, key="id")
        assert t.latest_version() == 0, path


def test_single_null_key_is_inserted(spark):
    got = _merge_both(spark, [(None, "n", 0), (1, "A", 10)])
    want = sorted([(None, "n", 0), (1, "A", 10), (2, "b", 2), (3, "c", 3)], key=repr)
    assert got == {"local": want, "distributed": want}


def test_delete_matched_where_agrees(spark):
    got = _merge_both(
        spark,
        [(1, "a", -1), (2, "B", 20), (8, "z", -1), (9, "Q", 90)],
        delete_matched_where=F.col("v") < 0,
    )
    want = sorted([(2, "B", 20), (3, "c", 3), (9, "Q", 90)], key=repr)
    assert got == {"local": want, "distributed": want}


def test_identity_and_change_feed_agree(spark):
    """Matched rows keep their identity value, inserts get fresh ones,
    and the change feed carries the same rows on both paths. Assigned
    ids depend on the source's partitioning, so they are compared
    against each path's own data, not across paths."""
    schema = "name string, v long"
    results = {}
    for path, src in _sources(spark, [("b", 20), ("c", 30), ("d", 40)], schema).items():
        t = VersionedTable.create(
            spark,
            temp_table_path(f"idcdf-{path}"),
            local_df(spark, [("a", 1), ("b", 2)], schema),
            identity={"column": "id"},
            enable_cdf=True,
        )
        before = {r["name"]: r["id"] for r in t.to_df().collect()}
        v = t.merge(src, key="name")
        data = {r["name"]: (r["v"], r["id"]) for r in t.to_df().collect()}
        changes = t.table_changes(v, v).collect()
        assert data["a"][1] == before["a"] and data["b"][1] == before["b"]
        assert len({i for _, i in data.values()}) == 4
        assert min(data["c"][1], data["d"][1]) > max(before.values())
        for r in changes:
            if r["_change_type"] == "update_preimage":
                assert r["id"] == before[r["name"]]
            else:
                assert r["id"] == data[r["name"]][1]
        results[path] = (
            sorted((n, v_) for n, (v_, _) in data.items()),
            sorted((r["_change_type"], r["name"], r["v"]) for r in changes),
        )
    assert results["local"] == results["distributed"]
    assert results["local"][1] == [
        ("insert", "c", 30),
        ("insert", "d", 40),
        ("update_postimage", "b", 20),
        ("update_preimage", "b", 2),
    ]
