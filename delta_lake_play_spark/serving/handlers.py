"""Serving facade: the reference's five HTTP endpoints as plain
Python handlers over the versioned table layer.

Endpoint parity with ``api.py:55-107`` (cited per handler), minus the
observed flaws:

- ``api.py:56,70,89,105`` declare ``async def`` but make blocking
  Spark calls, stalling the event loop — handlers here are plain
  sync functions; the optional FastAPI wrapper (``app.py``) registers
  them as ``def`` routes so the framework runs them in its threadpool.
- ``api.py:75`` re-runs ``history().agg(max).collect()`` on every
  latest-read for the version label — here the log layer answers
  ``latest_version()`` from the commit log in O(#commits) without a
  Spark job. The version is resolved once and that snapshot is read,
  so a commit landing mid-request cannot label version V's rows V+1.
- ``get_table`` collects the whole snapshot to pandas anyway, so it
  sorts the reply by ``id`` there (ascending, nulls first, as Spark's
  ``orderBy`` does): one Spark job, no range-partition sample job and
  no shuffle.
- ``api.py:107`` builds the DELETE predicate by f-string from a
  Python tuple (renders ``id IN (7,)`` for single ids; injectable) —
  here it's a parameterized ``Column.isin``.
- The MERGE source and the seed rows are built by
  ``functions/local.py:local_df`` as
  ``LocalRelation`` plans, not PythonRDD-backed frames, so a request
  never starts a Python worker.

The handler layer is framework-free so it is testable in this
environment (FastAPI is not installed); the semantics, request and
response shapes are the reference's.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.table.versioned import VersionedTable

# The reference's fixed schema and seed rows (spark_project.py:29-35).
NAMES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("firstname", T.StringType(), False),
        T.StructField("lastname", T.StringType(), False),
    ]
)
SEED_ROWS = [(1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")]


@dataclass
class TableRow:
    """``api.py:23-26``."""

    id: int
    firstname: str
    lastname: str


class NamesTableService:
    """One table handle + session shared across requests, as the
    reference builds once at app start (``api.py:51-53``)."""

    def __init__(
        self, spark: SparkSession, table_dir: str, delta_mirror: bool = False
    ):
        """``delta_mirror=True`` serves over a table that also
        maintains the open-protocol ``_delta_log`` on every commit
        (``table/delta_log.py``) — the same composition as the
        reference, whose delta-spark writes the Delta log under every
        endpoint DML (``spark_project.py:36`` + ``api.py:91-107``)."""
        self.spark = spark
        seed = local_df(spark, SEED_ROWS, NAMES_SCHEMA)
        self.table = VersionedTable.create_if_absent(
            spark, table_dir, seed, delta_mirror=delta_mirror
        )

    # ------------------------------------------------ GET /hello_world

    def hello_world(self) -> dict[str, str]:
        """``api.py:55-58``."""
        return {"message": "Hello World"}

    # ------------------------------------------- GET /get_table_history

    def get_table_history(self) -> dict[str, Any]:
        """``api.py:60-67``: history DataFrame → pandas → JSON keyed by
        version, timestamps rendered as strings."""
        df = self.table.history().toPandas()
        df["timestamp"] = df["timestamp"].astype(str)
        return json.loads(df.set_index("version").to_json())

    # ------------------------------------------------ POST /get_table

    def get_table(self, version: int | datetime | None = None) -> dict[str, Any]:
        """``api.py:69-86``: dispatch None/int/datetime → latest /
        versionAsOf / timestampAsOf, return records + version label."""
        if version is None:
            version = self.table.latest_version()
        if isinstance(version, int):
            sdf = self.table.read(version=version)
        else:
            sdf = self.table.read(timestamp=version)
        pdf = sdf.toPandas().sort_values("id", na_position="first")
        return {"version": version, "data": pdf.to_dict(orient="records")}

    # ---------------------------------------------- PUT /merge_to_table

    def merge_to_table(self, rows: list[TableRow | dict]) -> dict[str, int]:
        """``api.py:88-102``: MERGE on id — update matched names,
        insert unmatched."""
        records = [r if isinstance(r, TableRow) else TableRow(**r) for r in rows]
        source = local_df(
            self.spark,
            [(r.id, r.firstname, r.lastname) for r in records],
            NAMES_SCHEMA,
        )
        new_version = self.table.merge(source, key="id")
        return {"version": new_version}

    # ------------------------------------------- DELETE /delete_from_table

    def delete_from_table(self, ids: list[int]) -> dict[str, int]:
        """``api.py:104-107`` with the predicate built safely."""
        new_version = self.table.delete(F.col("id").isin(ids))
        return {"version": new_version}
