"""Driver-held rows as a plan: ``local_df`` and ``empty_df`` build
DataFrames that optimize to a ``LocalRelation``, and
``_local_relation`` / ``_is_empty_local`` recognise one.

A leaf module: it imports nothing from the package, so an operator, a
query builder or the table layer can build frames from rows it holds
without importing the table layer.
"""

from __future__ import annotations

import functools
import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_logger = logging.getLogger("spark_graft")


def local_df(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """DataFrame over driver-held ``rows`` (tuples in schema field
    order) that plans as a ``LocalRelation``.

    ``createDataFrame(list, schema)`` plans a ``LogicalRDD`` over
    ``parallelize(rows)`` mapped through a Python lambda — a PythonRDD,
    so every stage that scans it launches Python workers (~250 ms per
    job on a small local session), and a persisted copy computed by two
    concurrent AQE query stages races on its cache blocks. Built from
    an Arrow table instead, the rows travel to the JVM once and the
    plan is a ``LocalRelation``: no Python worker, no job to collect
    it, and exact size statistics. Each row is checked first by the
    same verifier ``createDataFrame`` runs by default, so a bad row
    raises the same PySpark error class and message.

    This is the package's one way to plan driver-held rows:
    ``tests/test_local_df_lint.py`` allows ``createDataFrame`` outside
    ``functions/local.py`` only in the keys that exercise the
    reference's ingestion surface."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    s = _struct(schema)
    verify = T._make_type_verifier(s)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(s)
    columns = [
        pa.array([row[i] for row in rows], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), s
    )


def empty_df(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """Empty DataFrame (all columns nullable) that OPTIMIZES to an
    empty LocalRelation — emptiness is then a driver-side-provable plan
    fact, so committing it as a table seed skips the data-write job
    (``_is_empty_local``). ``createDataFrame([], schema)`` instead
    parallelizes an empty RDD through a Python lambda: a LogicalRDD
    whose emptiness only a job can prove, and every stage scanning it
    launches Python workers (see ``local_df``)."""
    cols = [
        F.lit(None).cast(f.dataType).alias(f.name) for f in _struct(schema).fields
    ]
    return spark.range(1).select(*cols).where(F.lit(False))


def _struct(schema: T.StructType | str) -> T.StructType:
    """``schema`` as a StructType (DDL strings parsed)."""
    if isinstance(schema, T.StructType):
        return schema
    return T._parse_datatype_string(schema)


def _local_relation(df: DataFrame):
    """The optimized plan of ``df`` when it is a ``LocalRelation`` —
    rows the driver already holds, so collecting them runs no job —
    else None. A real scan or a non-collapsed projection returns None.
    So does a DataFrame without a classic JVM plan (Connect), and the
    first such fallback per error type is logged through the
    ``spark_graft`` logger."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan if plan.getClass().getSimpleName() == "LocalRelation" else None
    except (AttributeError, Py4JError) as e:  # non-classic DataFrame
        _log_local_plan_fallback(type(e).__name__)
        return None


@functools.cache
def _log_local_plan_fallback(error: str) -> None:
    """Warn once per error type that the LocalRelation check fell back."""
    _logger.warning(
        "no classic plan to inspect (%s); treating the frame as a "
        "distributed relation",
        error,
    )


def _is_empty_local(df: DataFrame) -> bool:
    """True iff ``df`` optimizes to an EMPTY LocalRelation — a plan
    whose row count is a driver-side fact (no job needed). Used to
    skip the data-write job of empty commits; anything else runs the
    normal write path."""
    plan = _local_relation(df)
    return plan is not None and plan.data().isEmpty()
