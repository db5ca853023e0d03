"""MERGE runs one of two probes, selected from the source's plan: a
``LocalRelation`` source (driver-held rows, e.g. ``local_df``) is
checked and probed on the driver, any other source through the
aggregated probe job. The same rows through either path must give the
same table, the same errors and the same change feed.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.local import _local_relation, local_df
from delta_lake_play_spark.table import versioned
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


NAN = float("nan")
NTZ = [datetime(2024, 3, 10, 2, 30), datetime(2024, 11, 3, 1, 30, 0, 250)]
# 01:30 on 2024-11-03 in Los Angeles, once in PDT and once in PST,
# and midnight of 2030-01-01 there
LTZ = [
    datetime(2024, 11, 3, 8, 30, tzinfo=timezone.utc),
    datetime(2024, 11, 3, 9, 30, tzinfo=timezone.utc),
    datetime(2030, 1, 1, 8, tzinfo=timezone.utc),
]
LTZ_LOCAL = [datetime(2024, 11, 3, 1, 30), datetime(2024, 11, 3, 1, 30, fold=1)]
DEC = [Decimal("1234567890.12"), Decimal("0.10")]
QUOTED = ["it's", 'say "hi"', "back\\slash"]

# case -> (seed schema, seed rows, source schema, source rows, rows
# with a duplicated key, table after the MERGE, merge kwargs,
# (session time zone, Python process time zone), each None to keep it)
KEY_CASES = {
    "null key": (
        SCHEMA, [(None, "t", 0), (1, "a", 1)],
        SCHEMA, [(None, "n", 5), (1, "A", 10)],
        [(None, "x", 1), (None, "y", 2)],
        [(None, "t", 0), (None, "n", 5), (1, "A", 10)], {}, (None, None),
    ),
    "nan double": (
        "id double, name string, v long", [(NAN, "t", 0), (1.0, "a", 1)],
        "id double, name string, v long", [(NAN, "N", 5), (2.0, "b", 2)],
        [(NAN, "x", 1), (NAN, "y", 2)],
        [(NAN, "N", 5), (1.0, "a", 1), (2.0, "b", 2)], {}, (None, None),
    ),
    # a Python process time zone other than the session's must not
    # move a timestamp_ntz key
    "timestamp_ntz": (
        "id timestamp_ntz, name string, v long", [(NTZ[0], "t", 0), (NTZ[1], "u", 1)],
        "id timestamp_ntz, name string, v long",
        [(NTZ[1], "U", 10), (datetime(2030, 1, 1), "n", 5)],
        [(NTZ[0], "x", 1), (NTZ[0], "y", 2)],
        [(NTZ[0], "t", 0), (NTZ[1], "U", 10), (datetime(2030, 1, 1), "n", 5)],
        {}, ("America/Los_Angeles", None),
    ),
    # the two instants of a repeated fall-back hour are two keys, in a
    # session and a Python process that both observe the DST change
    "timestamp in the fall-back hour": (
        "id timestamp, name string, v long", [(LTZ[0], "t", 0), (LTZ[1], "u", 1)],
        "id timestamp, name string, v long",
        [(LTZ[1], "U", 11), (LTZ[0], "T", 10), (LTZ[2], "n", 5)],
        [(LTZ[1], "x", 1), (LTZ[1], "y", 2)],
        [(LTZ_LOCAL[0], "T", 10), (LTZ_LOCAL[1], "U", 11), (datetime(2030, 1, 1), "n", 5)],
        {}, ("America/Los_Angeles", "America/Los_Angeles"),
    ),
    "decimal(12,2)": (
        "id decimal(12,2), name string, v long", [(DEC[0], "t", 0), (DEC[1], "u", 1)],
        "id decimal(12,2), name string, v long",
        [(DEC[0], "T", 10), (Decimal("0.11"), "n", 5)],
        [(DEC[1], "x", 1), (DEC[1], "y", 2)],
        [(DEC[0], "T", 10), (DEC[1], "u", 1), (Decimal("0.11"), "n", 5)], {}, (None, None),
    ),
    "quoted string": (
        "id string, name string, v long", [(QUOTED[0], "t", 0), (QUOTED[1], "u", 1)],
        "id string, name string, v long", [(q, "Q", 9) for q in QUOTED],
        [(QUOTED[0], "x", 1), (QUOTED[0], "y", 2)],
        [(q, "Q", 9) for q in QUOTED], {}, (None, None),
    ),
    "int into long": (
        "id long, name string, v long", SEED,
        SCHEMA, [(2, "B", 20), (2**31 - 1, "m", 5)],
        [(2, "x", 1), (2, "y", 2)],
        [(1, "a", 1), (2, "B", 20), (3, "c", 3), (2**31 - 1, "m", 5)],
        {"evolve_schema": True}, (None, None),
    ),
}


def _set_process_tz(tz):
    if tz is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = tz
    time.tzset()


@pytest.mark.parametrize("case", sorted(KEY_CASES))
def test_key_literal_agrees_with_distributed_path(spark, monkeypatch, case):
    """A request-sized ``LocalRelation`` source (matched by its key
    literal), the same source above the key-literal size (matched by a
    broadcast join) and the aggregated path give the same table, the
    same change rows and the same ``MergeSourceKeyError`` for each kind
    of key."""
    seed_schema, seed, schema, rows, dup, want, kwargs, (tz, process_tz) = KEY_CASES[case]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    old_process_tz = os.environ.get("TZ")
    if tz:
        spark.conf.set("spark.sql.session.timeZone", tz)
    if process_tz:
        _set_process_tz(process_tz)

    def each_path(src_rows):
        for path, src in _sources(spark, src_rows, schema).items():
            if path == "local":
                monkeypatch.setattr(versioned, "_KEY_LITERALS_MAX", 0)
                yield "local join", src
                monkeypatch.undo()
            yield path, src

    try:
        results, errors = {}, {}
        for path, src in each_path(rows):
            t = VersionedTable.create(
                spark,
                temp_table_path("keys"),
                local_df(spark, seed, seed_schema),
                enable_cdf=True,
            )
            v = t.merge(src, key="id", **kwargs)
            changes = t.table_changes(v, v).drop("_commit_version", "_commit_timestamp")
            results[path] = (
                sorted(repr(tuple(r)) for r in t.to_df().collect()),
                sorted(repr(tuple(r)) for r in changes.collect()),
            )
        for path, src in each_path(dup):
            t = VersionedTable.create(
                spark,
                temp_table_path("keys-dup"),
                local_df(spark, seed, seed_schema),
            )
            with pytest.raises(MergeSourceKeyError) as e:
                t.merge(src, key="id", **kwargs)
            errors[path] = str(e.value)
            assert t.latest_version() == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        if process_tz:
            _set_process_tz(old_process_tz)
    assert results["local"] == results["local join"] == results["distributed"]
    assert results["local"][0] == sorted(repr(r) for r in want)
    assert errors["local"] == errors["local join"] == errors["distributed"]
