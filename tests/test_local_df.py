"""``local_df`` builds the same DataFrame as ``createDataFrame(rows,
schema)`` — rows, schema and nullability, and the same PySpark error
for a bad row — but plans it as a ``LocalRelation``. Covered for the
schemas the package builds from driver-held rows."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import Row
from pyspark.sql import types as T

from delta_lake_play_spark.functions.local import _is_empty_local, local_df
from delta_lake_play_spark.operators.pq import _CODEBOOK_SCHEMA
from delta_lake_play_spark.queries.llm_bpe import _MERGE_SCHEMA
from delta_lake_play_spark.serving.handlers import NAMES_SCHEMA, SEED_ROWS

# The optimize partition rows: a row index and raw hive strings, with
# the hive null marker already turned into None.
_PARTITION_SCHEMA = T.StructType(
    [
        T.StructField("__idx", T.LongType()),
        T.StructField("region", T.StringType(), True),
        T.StructField("day", T.StringType(), True),
    ]
)

CASES = {
    "names": (NAMES_SCHEMA, SEED_ROWS),
    "history": (
        "version long, timestamp string, operation string, "
        "operationParameters string, num_rows long",
        [
            (1, "2026-01-02T00:00:00.000Z", "MERGE", '{"key": "id"}', 4),
            (0, "2026-01-01T00:00:00.000Z", "CREATE", "{}", None),
        ],
    ),
    "files_df": (
        "path string, num_rows long, dv_masked long, "
        "stats string, null_counts string",
        [("c-0-ab/part-0.parquet", 3, 1, '{"id": [1, 3]}', '{"id": 0}')],
    ),
    "dv_scan_to_logged_path": (
        "__path string, path string",
        [("/t/c-0-ab/part-0.parquet", "c-0-ab/part-0.parquet")],
    ),
    "dv_logged_to_scan_path": (
        "path string, __path string",
        [("c-0-ab/part-0.parquet", "/t/c-0-ab/part-0.parquet")],
    ),
    "dv_materialize_fingerprints": (
        "__path string, __fp string",
        [("/t/c-0-ab/part-0.parquet", "9f2c")],
    ),
    "native_dv_mask": ("__fn string, __ri long", [("part-0.parquet", 2**33)]),
    "optimize_partitions": (
        _PARTITION_SCHEMA,
        [(0, "eu", "2026-01-01"), (1, None, "2026-01-02"), (2, "us", None)],
    ),
    "pq_codebook": (_CODEBOOK_SCHEMA, [(0, 3, [1000, -2000, 5]), (1, 7, [])]),
    "scan_observe_metrics": (
        "n_rows bigint, sum_qty_cents bigint, "
        "min_ship timestamp_ntz, max_ship timestamp_ntz",
        [(60175, 153078795, datetime(1992, 1, 2), datetime(1998, 12, 1, 0, 0, 1))],
    ),
    "llm_dedup_recall": (
        "n_true bigint, n_flagged bigint, n_hit bigint, recall double",
        [(0, 4, 0, None)],
    ),
    "bpe_merge_log": (
        _MERGE_SCHEMA,
        [
            Row(step=0, pair="<t><h>", merged="<th>", pair_count=41),
            Row(step=1, pair="<th><e>", merged="<the>", pair_count=29),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_df_matches_create_dataframe(spark, case):
    schema, rows = CASES[case]
    got, want = local_df(spark, rows, schema), spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # names, types, nullability, metadata
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert _is_empty_local(local_df(spark, [], schema))


@pytest.mark.parametrize(
    "bad",
    [
        (None, "James", "Bond"),  # None in a non-nullable column
        ("1", "James", "Bond"),  # str in an int column
        (True, "James", "Bond"),  # bool in an int column
        (2**40, "James", "Bond"),  # out of the int range
    ],
)
def test_local_df_rejects_bad_rows_like_create_dataframe(spark, bad):
    with pytest.raises(PySparkException) as want:
        spark.createDataFrame([bad], NAMES_SCHEMA)
    with pytest.raises(PySparkException) as got:
        local_df(spark, [bad], NAMES_SCHEMA)
    assert type(got.value) is type(want.value)
    assert got.value.getCondition() == want.value.getCondition()
    assert str(got.value) == str(want.value)
