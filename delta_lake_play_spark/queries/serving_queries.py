"""The serving layer exercised end-to-end as a judged key (SURVEY
§2 + VERDICT r6 ask #4).

The reference's whole product is five FastAPI endpoints over one
versioned table (``api.py:55-107``): seed at startup, MERGE via
PUT /merge_to_table (``api.py:88-102``), DELETE via
/delete_from_table (``api.py:104-107``), and reads — latest /
versionAsOf / timestampAsOf — via POST /get_table (``api.py:69-86``).
``serve_endpoint_lifecycle`` drives that exact lifecycle through the
handler layer (serving/handlers.py) and returns the two snapshots a
client would read back, so the driver's oracle hash proves the
HANDLER path (request shapes, pandas record rendering, version
labels) — not just the table layer underneath it.

Scale note: the serving path is driver-side BY CONTRACT — the
reference renders every response through ``toPandas().to_dict``
(``api.py:85``); response size is bounded by request semantics, not
corpus size. The slice served here is ~3% of ``customer`` so the key
stays request-sized at every SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table

_LIFECYCLE_ORACLE = """
WITH src AS (
  -- firstname null-guarded: the reference schema is nullable=False
  -- (spark_project.py:29-33), so the API client must send a value
  SELECT c_custkey AS id,
         COALESCE(c_mktsegment, 'UNKNOWN') AS firstname,
         c_name AS lastname
  FROM customer WHERE c_custkey % 100 < 3
),
seed(id, firstname, lastname) AS (
  VALUES (1, 'James', 'Bond'), (2, 'Alice', 'Rogers'), (3, 'Joe', 'Bloggs')
),
v1 AS (  -- MERGE: update matched ids, insert unmatched (api.py:96-101)
  SELECT * FROM src
  UNION ALL
  SELECT * FROM seed WHERE id NOT IN (SELECT id FROM src)
),
v2 AS (  -- DELETE ids: every 10th slice id plus seed id 2 (api.py:107)
  SELECT * FROM v1 WHERE NOT (id % 10 = 0 OR id = 2)
)
SELECT 1 AS snapshot_v, id, firstname, lastname FROM v1
UNION ALL
SELECT 2 AS snapshot_v, id, firstname, lastname FROM v2
"""


@register("serve_endpoint_lifecycle", oracle=_LIFECYCLE_ORACLE)
def serve_endpoint_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed → MERGE → DELETE → time-travel reads, all through the
    handler layer: ``NamesTableService`` seeds the reference's 3 rows
    at version 0 (``spark_project.py:34-35``), ``merge_to_table``
    upserts a customer-derived batch (v1), ``delete_from_table``
    removes every 10th id plus seed id 2 (v2), and both the
    versionAsOf=1 read and the latest read come back through
    ``get_table``'s records rendering (``api.py:69-86``). The
    handlers' version labels are asserted in-line — a mislabeled
    snapshot fails loudly before the hash would."""
    from delta_lake_play_spark.serving.handlers import NamesTableService
    from delta_lake_play_spark.table.versioned import temp_table_path

    svc = NamesTableService(spark, temp_table_path("serve-lifecycle"))
    batch = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 < 3)
        .select(
            F.col("c_custkey").cast("int").alias("id"),
            # the reference schema is nullable=False — a client must
            # send a concrete value in every field
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("firstname"),
            F.col("c_name").alias("lastname"),
        )
    )
    rows = [r.asDict() for r in batch.collect()]  # the PUT request body
    resp = svc.merge_to_table(rows)
    assert resp["version"] == 1, f"merge label: {resp}"
    del_ids = sorted(
        {r["id"] for r in rows if r["id"] % 10 == 0} | {2}
    )  # the DELETE request body
    resp = svc.delete_from_table(del_ids)
    assert resp["version"] == 2, f"delete label: {resp}"

    out = []
    for want_label, req_version in ((1, 1), (2, None)):
        got = svc.get_table(version=req_version)
        assert got["version"] == want_label, f"snapshot label: {got['version']}"
        out += [
            (want_label, rec["id"], rec["firstname"], rec["lastname"])
            for rec in got["data"]
        ]
    hist = svc.get_table_history()
    assert {op for op in hist["operation"].values()} >= {"CREATE", "MERGE", "DELETE"}
    return local_df(
        spark, out, "snapshot_v int, id int, firstname string, lastname string"
    )
