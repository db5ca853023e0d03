"""Scans / sources / sinks (SURVEY.md §2.1).

The reference's scan surface is one Delta table read three ways
(latest / versionAsOf / timestampAsOf — ``api.py:74-80``) plus
createDataFrame ingestion (``spark_project.py:34-35``, ``api.py:91``)
and a pandas sink (``api.py:85``). Versioned reads live in
``table/versioned.py`` + ``queries/dml_queries.py``; here are the
stateless scan forms over the synthetic tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table

# --- scan_parquet: columnar scan with column pruning -----------------

_SCAN_ORACLE = """
SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_size >= 10
"""


@register("scan_parquet", oracle=_SCAN_ORACLE)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate reach the parquet reader (ReadSchema is
    3 columns, PushedFilters carries p_size >= 10)."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 10)
        .select("p_partkey", "p_name", "p_retailprice")
    )


# --- create_dataframe_rows: local rows + explicit schema --------------
# The reference's seed rows and schema (spark_project.py:29-35).

_SEED_ROWS = [(1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")]

_SEED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("firstname", T.StringType(), False),
        T.StructField("lastname", T.StringType(), False),
    ]
)

_CREATE_ORACLE = """
SELECT * FROM (VALUES (1, 'James', 'Bond'), (2, 'Alice', 'Rogers'), (3, 'Joe', 'Bloggs'))
  t(id, firstname, lastname)
"""


@register("create_dataframe_rows", oracle=_CREATE_ORACLE)
def create_dataframe_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(_SEED_ROWS, _SEED_SCHEMA)


# --- collect_to_pandas: Arrow round-trip sink (api.py:63,85) ----------

_PANDAS_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


@register("collect_to_pandas", oracle=_PANDAS_ORACLE)
def collect_to_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toPandas round-trip on a dimension table — the reference's
    serving sink (``api.py:85-86``). Only ever applied to small
    results; big tables stay distributed."""
    pdf = load_table(spark, sf_dir, "nation").toPandas()
    return spark.createDataFrame(pdf)


# --- json_column_parse: semi-structured props column ------------------

_JSON_ORACLE = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
"""


@register("json_column_parse", oracle=_JSON_ORACLE)
def json_column_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") > 50)


# --- scan_data_skipping ---------------------------------------------------

_SKIP_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_orderkey BETWEEN 100 AND 500
"""


@register("scan_data_skipping", oracle=_SKIP_ORACLE)
def scan_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping from commit-log min/max stats
    (SURVEY.md §4): the table is range-laid-out on the key, so the
    range read opens only the files whose [min,max] overlaps the
    band — the log answers which, no data I/O for pruned files. The
    residual predicate keeps results exact, which the oracle checks
    against a plain filtered scan."""
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    li = load_table(spark, sf_dir, "lineitem").repartitionByRange(8, "l_orderkey")
    table = VersionedTable.create(spark, temp_table_path("skip"), li)
    return table.read_range("l_orderkey", 100, 500).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --- scan_bloom_point -----------------------------------------------------

_BLOOM_POINT_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_orderkey = 42
"""


@register("scan_bloom_point", oracle=_BLOOM_POINT_ORACLE)
def scan_bloom_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point lookup (SURVEY.md §4): the table is hashed
    across files so every file spans the full l_orderkey range and
    min/max stats prune NOTHING — the per-file bloom bitmaps recorded
    at commit time do the skipping instead. A bloom only
    over-approximates membership, so the read is exact (the oracle is
    a plain filtered scan); at 100 TB the lookup opens a handful of
    false-positive files instead of the snapshot."""
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    li = load_table(spark, sf_dir, "lineitem").repartition(8, "l_orderkey")
    table = VersionedTable.create(
        spark, temp_table_path("bloom"), li, bloom_filter_cols=["l_orderkey"]
    )
    return table.read_point("l_orderkey", 42).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --- scan_partition_pruning -----------------------------------------------

_PARTPRUNE_ORACLE = """
SELECT event_id, user_id, value
FROM events
WHERE event_type = 'click'
"""


@register("scan_partition_pruning", oracle=_PARTPRUNE_ORACLE)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-level partition pruning on a hive-partitioned
    versioned table (SURVEY.md §4): events laid out by event_type, so
    an equality filter on the partition column touches exactly one
    directory — Catalyst resolves it at planning time
    (PartitionFilters), zero I/O for the other partitions. At scale
    the layout key is the dominant access predicate (e.g. event day)."""
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    ev = load_table(spark, sf_dir, "events")
    table = VersionedTable.create(
        spark, temp_table_path("events-part"), ev, partition_by=["event_type"]
    )
    return (
        table.to_df()
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "value")
    )


# --- sink_csv_roundtrip ---------------------------------------------------

_CSV_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("sink_csv_roundtrip", oracle=_CSV_ORACLE)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-explicit CSV source: write the table with a
    header, read it back with the declared schema (never inference in
    a pipeline — inference is a full extra pass at 100 TB and can
    drift types between runs). Oracle checks content identity."""
    import tempfile

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = tempfile.mkdtemp(prefix="csv_sink_") + "/nation"
    n.write.mode("overwrite").option("header", "true").csv(out)
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", "true")
        .csv(out)
    )


# --- sink_json_roundtrip --------------------------------------------------

_JSONSINK_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@register("sink_json_roundtrip", oracle=_JSONSINK_ORACLE)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-explicit source — the interchange
    format for event feeds; same no-inference rule as CSV."""
    import tempfile

    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = tempfile.mkdtemp(prefix="json_sink_") + "/region"
    r.write.mode("overwrite").json(out)
    return spark.read.schema("r_regionkey int, r_name string").json(out)


# --- sql_api_entry --------------------------------------------------------

# One string, valid in both Spark SQL and DuckDB — demonstrating the
# engine's SQL surface (spark.sql over the registered temp views) in
# addition to the DataFrame API every other key uses.
_SQL_API_QUERY = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders
WHERE o_totalprice > 100000
GROUP BY o_orderpriority
"""


@register("sql_api_entry", oracle=_SQL_API_QUERY)
def sql_api_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: register the catalog as temp views and run
    a textual query through Catalyst — same plan, same optimizations
    as the DataFrame form (the oracle runs the identical string)."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SQL_API_QUERY)


# --- sink_orc_roundtrip ---------------------------------------------------

_ORC_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""


@register("sink_orc_roundtrip", oracle=_ORC_ORACLE)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip — the second columnar format Spark
    ships natively (vectorized reader, predicate pushdown, zlib/zstd
    stripes), for interop with Hive-era warehouses. Content identity
    is the oracle; types survive exactly (unlike CSV, no re-parse)."""
    import tempfile

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = tempfile.mkdtemp(prefix="orc_sink_") + "/supplier"
    s.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


# --- scan_schema_merge ----------------------------------------------------

_SCHEMA_MERGE_ORACLE = """
SELECT c_custkey, c_acctbal, NULL AS c_mktsegment
FROM customer WHERE c_custkey < 500
UNION ALL
SELECT c_custkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey >= 500 AND c_custkey < 1000
"""


@register("scan_schema_merge", oracle=_SCHEMA_MERGE_ORACLE)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema read over heterogeneous parquet files: an older
    2-column file and a newer 3-column file in one directory; rows
    from the old file surface NULL for the added column. mergeSchema
    costs one footer pass over the file set (not a data pass), which
    is why production tables record the merged schema in table
    metadata instead — both paths exist here (see dml_merge_evolve
    for the metadata-driven one)."""
    import tempfile

    c = load_table(spark, sf_dir, "customer")
    out = tempfile.mkdtemp(prefix="schema_merge_") + "/tbl"
    c.filter(F.col("c_custkey") < 500).select("c_custkey", "c_acctbal").coalesce(
        1
    ).write.mode("overwrite").parquet(out)
    c.filter((F.col("c_custkey") >= 500) & (F.col("c_custkey") < 1000)).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    ).coalesce(1).write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out)


# --- sink_text_roundtrip --------------------------------------------------

# Plain-text source/sink: one line per row, schema = a single string
# column — the rawest corpus interchange format (and what a tokenizer
# pipeline reads). Line-split on write/read must round-trip exactly;
# the document texts contain no newlines, so rows == lines.

_TEXT_RT_ORACLE = """
SELECT COALESCE(text, '') AS value FROM documents WHERE doc_id < 150
"""


@register("sink_text_roundtrip", oracle=_TEXT_RT_ORACLE)
def sink_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a document slice with the text sink, read it back with
    the text source. Text files carry no schema and no types — the
    read side is one `value: string` column — which is exactly why
    the engine's other sinks are columnar; this key pins the
    interchange path a raw-corpus drop uses."""
    import tempfile

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    out = tempfile.mkdtemp(prefix="text_rt_")
    # A text file has no NULL representation: a null document becomes
    # an empty line (made explicit here; the oracle mirrors with
    # COALESCE(text, '')).
    d.select(F.coalesce("text", F.lit("")).alias("text")).write.mode(
        "overwrite"
    ).text(out)
    return spark.read.text(out)


# --- sink_partitioned_parquet ---------------------------------------------

_PARTSINK_ORACLE = """
SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'de'
"""


@register("sink_partitioned_parquet", oracle=_PARTSINK_ORACLE)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned source: write
    the corpus laid out by lang (the layout a 100 TB lake actually
    uses — low-cardinality filter columns become directories), read it
    back with a lang predicate, and let Catalyst prune to the one
    matching directory so the scan never opens the other partitions'
    files. The lang column round-trips through the directory name, so
    it is re-cast and re-ordered to the declared schema on the way
    out. A plan test pins the pruning."""
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="part_sink_") + "/documents"
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).where(F.col("lang") == "de")
    return back.select(
        "doc_id", F.col("lang").cast("string").alias("lang"), "source", "n_chars"
    )


# --- scan_observe_metrics -------------------------------------------------
#
# Production observability: `Dataset.observe` attaches named aggregate
# metrics to a plan node (CollectMetrics) that accumulate DURING the
# normal action — a 100 TB pipeline gets row counts / quality sums
# for free on every write, with zero extra scans (the alternative, a
# second .agg() pass, re-reads the whole input). Metrics ride the
# exact integer-cents grid so the observed values are comparable
# bit-for-bit with a direct aggregation — which is exactly what the
# oracle checks.

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS sum_qty_cents,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship
FROM lineitem
"""


@register("scan_observe_metrics", oracle=_OBSERVE_ORACLE)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach CollectMetrics to the lineitem scan, run one counting
    action, and return the observed metrics as a 1-row frame — the
    observed values must equal a direct aggregation exactly."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("lineitem_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100, 0).cast("bigint")).alias(
            "sum_qty_cents"
        ),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
    observed.count()  # any action over the subtree populates the metrics
    m = obs.get
    return local_df(
        spark,
        [
            (
                m["n_rows"],
                m["sum_qty_cents"],
                m["min_ship"],
                m["max_ship"],
            )
        ],
        "n_rows bigint, sum_qty_cents bigint, min_ship timestamp_ntz, max_ship timestamp_ntz",
    )


# --- sql_parameterized ----------------------------------------------------
#
# Parameterized SQL (`spark.sql(query, args=...)`, Spark 3.4+): the
# injection-safe form of templated queries — values bind as typed
# literal expressions AFTER parsing, never by string interpolation.
# The reference's own API interpolates request strings straight into
# SQL (reference delta-lake-play api.py:107, an injectable f-string);
# this key is the engine-level fix for that pattern.

_PARAM_SQL_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE)
         AS total_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
GROUP BY o_orderpriority
"""


@register("sql_parameterized", oracle=_PARAM_SQL_ORACLE)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the aggregate through named-parameter binding: the status
    string and price floor arrive as typed args, not interpolated
    text. Catalyst folds the bound literals, so the plan (and the
    parquet pushdown) is identical to the inline form."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS total_price
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice >= :floor
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "floor": 1000.0},
    )


# --- sql_pipe_syntax (Spark 4 SQL pipe operators) ---------------------------
# The |> chain form (SQL:2023-adjacent, Spark 4.0+): each stage
# consumes the previous stage's relation, so a multi-step analysis
# reads top-to-bottom instead of inside-out. Catalyst plans it
# identically to the nested form — this key proves the surface parses
# AND that the plan still aggregates/filters correctly by matching
# the conventional-SQL oracle.

_PIPE_SQL_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_late,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE)
         AS late_value
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F' AND c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority
HAVING COUNT(*) > 1
"""


@register("sql_pipe_syntax", oracle=_PIPE_SQL_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same join→filter→aggregate→having pipeline written as
    Spark 4 pipe stages (`FROM … |> JOIN … |> WHERE … |> AGGREGATE …
    |> WHERE`)."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        FROM orders
        |> JOIN customer ON o_custkey = c_custkey
        |> WHERE o_orderstatus = 'F' AND c_mktsegment = 'BUILDING'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_late,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                          AS DOUBLE) AS late_value
           GROUP BY o_orderpriority
        |> WHERE n_late > 1
        |> SELECT o_orderpriority, n_late, late_value
        """
    )


# --- sink_python_datasource ------------------------------------------------

_PYJSONL_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""


@register("sink_python_datasource", oracle=_PYJSONL_ORACLE)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python DataSource connector
    (sources/pyjsonl.py): a distributed per-partition JSONL write
    with a committed-file manifest, read back N-files-wide. Content
    identity against the source table is the oracle — the same
    contract the builtin-format roundtrips (csv/json/orc/text) pin,
    here proving the EXTENSION API write path."""
    import tempfile

    from delta_lake_play_spark.sources.pyjsonl import JsonlDataSource

    spark.dataSource.register(JsonlDataSource)
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = tempfile.mkdtemp(prefix="pyjsonl_") + "/supplier"
    s.write.format("pyjsonl").mode("overwrite").save(out)
    ddl = "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    return (
        spark.read.format("pyjsonl").option("schema", ddl).load(out)
    )


# --- scan_csv_corrupt_records -----------------------------------------------
#
# Dirty-ingest handling: PERMISSIVE mode parses what it can and
# quarantines unparseable lines into columnNameOfCorruptRecord
# instead of failing the job — the production posture for 100 TB of
# third-party CSV (FAILFAST is exercised in tests; DROPMALFORMED
# silently loses data and is avoided). The fixture is written by the
# key itself: two deterministic bad lines (wrong arity, non-numeric
# field) among the nation rows; the oracle states the expected
# outcome — every good row parsed, bad lines counted, nothing
# dropped silently.

_CSV_CORRUPT_ORACLE = """
SELECT n_nationkey AS nationkey, n_name AS name, FALSE AS is_corrupt
FROM nation
UNION ALL
SELECT NULL, NULL, TRUE FROM range(2)
"""


@register("scan_csv_corrupt_records", oracle=_CSV_CORRUPT_ORACLE)
def scan_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write nation as CSV plus two malformed lines, read back in
    PERMISSIVE mode with a corrupt-record column: good rows parse,
    bad lines are quarantined (NULL fields + is_corrupt flag)."""
    import os
    import tempfile

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = tempfile.mkdtemp(prefix="csv_corrupt_") + "/nation"
    n.coalesce(1).write.mode("overwrite").option("header", "false").csv(out)
    bad = os.path.join(out, "zz-bad-lines.csv")  # sorts after the data file
    with open(bad, "w") as fh:
        fh.write("7,EXTRA,FIELD,HERE\n")       # wrong arity
        fh.write("not_a_number,BADLAND\n")     # unparseable int
    parsed = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("header", "false")
        .csv(out)
    )
    return parsed.select(
        F.col("n_nationkey").alias("nationkey"),
        F.when(F.col("_corrupt").isNull(), F.col("n_name")).alias("name"),
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
    ).withColumn(
        "nationkey",
        F.when(~F.col("is_corrupt"), F.col("nationkey")),
    )


# --- scan_glob_recursive -----------------------------------------------------
#
# File-discovery options on a nested layout: recursiveFileLookup
# walks an arbitrarily nested directory tree (ignoring partition
# inference) and pathGlobFilter narrows discovery to matching leaf
# files BEFORE any footer is opened — at 100 TB the difference
# between listing a prefix and reading it. The key writes a 3-level
# nested layout with decoy non-parquet files, then reads only the
# parquet leaves under the glob.

_GLOB_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@register("scan_glob_recursive", oracle=_GLOB_ORACLE)
def scan_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-tree read with recursiveFileLookup + pathGlobFilter:
    decoy .txt files are never touched; all parquet leaves under
    three different nesting depths are discovered."""
    import os
    import tempfile

    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = tempfile.mkdtemp(prefix="glob_scan_")
    a = r.where(F.col("r_regionkey") < 2)
    b = r.where((F.col("r_regionkey") >= 2) & (F.col("r_regionkey") < 4))
    c = r.where(F.col("r_regionkey") >= 4)
    a.write.parquet(os.path.join(base, "x/deep/one"))
    b.write.parquet(os.path.join(base, "x/two"))
    c.write.parquet(os.path.join(base, "three"))
    for decoy in ("x/deep/one/readme.txt", "x/notes.txt"):
        with open(os.path.join(base, decoy), "w") as fh:
            fh.write("not data\n")
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
    )


# --- scan_file_metadata -------------------------------------------------------
#
# The hidden ``_metadata`` column on file sources — the lineage/audit
# surface: every row knows which physical file (and row group
# position) produced it, with no join against a manifest. The key
# writes documents hive-partitioned by lang, reads back selecting
# ``_metadata.file_path``, and audits rows-per-partition-directory by
# extracting the partition value from the physical path — proving
# the rows actually landed in their partition's directory, which a
# plain GROUP BY lang could never show.

_FILE_META_ORACLE = """
SELECT lang AS dir_lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_values
FROM documents WHERE lang IS NOT NULL GROUP BY lang
"""


@register("scan_file_metadata", oracle=_FILE_META_ORACLE)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit via _metadata.file_path: per partition
    DIRECTORY, the row count and the number of distinct lang values
    found inside (must be 1 per directory by construction)."""
    import tempfile

    # NULL lang writes to the __HIVE_DEFAULT_PARTITION__ directory,
    # whose name round-trips as a token, not NULL — audit the real
    # partitions only (both sides filter identically)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .where(F.col("lang").isNotNull())
    )
    out = tempfile.mkdtemp(prefix="file_meta_") + "/docs"
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).select(
        "lang",
        F.regexp_extract(
            F.col("_metadata.file_path"), r"/lang=([^/]+)/", 1
        ).alias("dir_lang"),
    )
    return back.groupBy("dir_lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("lang").alias("n_values"),
    )


# --- sink_dynamic_partition_overwrite ----------------------------------------
#
# partitionOverwriteMode=dynamic: an INSERT OVERWRITE of a partitioned
# table replaces ONLY the partitions present in the incoming data —
# static mode would truncate the whole table first. The daily-refresh
# shape at 100 TB: rewriting one day must never touch the other
# thousand. The key refreshes the 'de' partition with recomputed rows
# and doubles one doc; the oracle states the expected merged state.

_DPO_ORACLE = """
SELECT doc_id, n_chars, lang FROM documents WHERE lang IS DISTINCT FROM 'de'
UNION ALL
SELECT doc_id, n_chars + 1 AS n_chars, lang FROM documents WHERE lang = 'de'
"""


@register("sink_dynamic_partition_overwrite", oracle=_DPO_ORACLE)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overwrite only the 'de' partition of a lang-partitioned table
    (dynamic mode); every other partition's files are untouched."""
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    out = tempfile.mkdtemp(prefix="dpo_") + "/docs"
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    refreshed = d.where(F.col("lang") == "de").withColumn(
        "n_chars", F.col("n_chars") + 1
    )
    (
        refreshed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(out)
    )
    return spark.read.parquet(out).select(
        "doc_id", "n_chars", F.col("lang").cast("string").alias("lang")
    )


# --- sql_udf_create (SQL-defined scalar + table functions, Spark 4) ---------
# CREATE TEMPORARY FUNCTION ... RETURNS <type> RETURN <expr> — logic
# shipped as catalog objects instead of engine code. Catalyst INLINES
# the scalar body at plan time (the UDF is a parse-level rewrite, not
# a black-box callsite), so predicate pushdown / codegen see straight
# through it — unlike a Python UDF, a SQL UDF costs nothing at 100 TB.
# The table-valued form (RETURNS TABLE) demos a catalog-defined
# dimension. The oracle inlines both bodies by hand; matching hashes
# prove the inlining is semantics-preserving.

_SQL_UDF_ORACLE = """
WITH bands(band, band_label) AS (VALUES (0, 'low'), (1, 'mid'), (2, 'high'))
SELECT l_returnflag, b.band_label,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) / 10000.0 AS DOUBLE) AS disc_value
FROM (
  SELECT l_returnflag,
         l_extendedprice, l_discount,
         CASE WHEN l_extendedprice * (1.0 - l_discount) < 1000.0 THEN 0
              WHEN l_extendedprice * (1.0 - l_discount) < 30000.0 THEN 1
              ELSE 2 END AS band
  FROM lineitem
) li
JOIN bands b USING (band)
GROUP BY l_returnflag, b.band_label
"""


@register("sql_udf_create", oracle=_SQL_UDF_ORACLE)
def sql_udf_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declare a scalar SQL UDF (``disc_price``), a second scalar UDF
    that CALLS it (``price_band`` — nested invocation, both inlined),
    and a table-valued SQL UDF (``price_bands()`` as a catalog-owned
    dimension), then run an aggregate through all three. TEMPORARY
    scope: session-local, like the reference's per-session Spark
    state."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("lineitem",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE, d DOUBLE) "
        "RETURNS INT RETURN CASE WHEN disc_price(p, d) < 1000.0 THEN 0 "
        "WHEN disc_price(p, d) < 30000.0 THEN 1 ELSE 2 END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_bands() "
        "RETURNS TABLE(band INT, band_label STRING) "
        "RETURN SELECT * FROM VALUES (0, 'low'), (1, 'mid'), (2, 'high')"
    )
    return spark.sql(
        """
        SELECT l_returnflag, b.band_label,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(round(disc_price(l_extendedprice, l_discount)
                                   * 10000) AS BIGINT)) / 10000.0 AS DOUBLE)
                 AS disc_value
        FROM lineitem li
        JOIN price_bands() b
          ON b.band = price_band(l_extendedprice, l_discount)
        GROUP BY l_returnflag, b.band_label
        """
    )


# --- sql_scripting (Spark 4 SQL scripting: BEGIN/DECLARE/WHILE) -------------
# Multi-statement SQL with control flow (SQL/PSM-shaped, Spark 4.0+,
# behind spark.sql.scripting.enabled): session variables + a WHILE
# loop compute a parameter the final statement then uses. The script
# runs ON THE DRIVER as plan orchestration — each SELECT inside is a
# normal Catalyst plan, so nothing here weakens the distributed
# story; it replaces the external-driver-program glue (bash/Python
# around spark-sql) that multi-step jobs otherwise need. The loop
# result is closed-form (floor = 2^n·50000·(2^n−1)/... unrolled:
# 50000 → 150000 → 350000), so the oracle is the conventional
# aggregate with the literal folded in.

_SCRIPTING_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above
FROM orders
WHERE o_totalprice > 350000
GROUP BY o_orderpriority
"""


@register("sql_scripting", oracle=_SCRIPTING_ORACLE)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEGIN/DECLARE/WHILE script whose loop-computed threshold
    parameterizes the final aggregate."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    prev = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            """
            BEGIN
              DECLARE price_floor DOUBLE DEFAULT 0;
              DECLARE i INT DEFAULT 0;
              WHILE i < 3 DO
                SET price_floor = price_floor * 2 + 50000;
                SET i = i + 1;
              END WHILE;
              SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above
              FROM orders
              WHERE o_totalprice > price_floor
              GROUP BY o_orderpriority;
            END
            """
        )
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prev)


# --- sql_pivot_syntax (SQL PIVOT clause) ------------------------------------
# The SQL-surface twin of agg_pivot (queries/aggregates.py — the
# DataFrame .pivot path): Spark's `FROM ... PIVOT (agg FOR col IN
# (...))` clause must parse and plan to the same single
# partial+final aggregate. Values are DECLARED in the IN list (an
# undiscovered pivot would add a distinct pass and risk unbounded
# column explosion at scale). PIVOT emits NULL for an empty
# (status, priority) cell where conditional aggregation emits 0, so
# the oracle NULLifies empty cells to mirror the clause's semantics.

_PIVOT_PRIORITIES = [
    ("1-URGENT", "p_urgent"),
    ("2-HIGH", "p_high"),
    ("3-MEDIUM", "p_medium"),
    ("4-NOT SPECIFIED", "p_notspec"),
    ("5-LOW", "p_low"),
]

_PIVOT_SQL_ORACLE = """
SELECT o_orderstatus,
       {cols}
FROM orders
GROUP BY o_orderstatus
""".format(
    cols=",\n       ".join(
        f"NULLIF(count(*) FILTER (o_orderpriority = '{v}'), 0) AS {a}"
        for v, a in _PIVOT_PRIORITIES
    )
)


@register("sql_pivot_syntax", oracle=_PIVOT_SQL_ORACLE)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per status × priority through the SQL PIVOT
    clause (declared value list)."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    in_list = ", ".join(f"'{v}' AS {a}" for v, a in _PIVOT_PRIORITIES)
    return spark.sql(
        f"""
        SELECT * FROM (SELECT o_orderstatus, o_orderpriority FROM orders)
        PIVOT (CAST(COUNT(*) AS BIGINT) FOR o_orderpriority IN ({in_list}))
        """
    )


# --- sql_group_order_all (GROUP BY ALL / ORDER BY ALL) ----------------------
# Spark 3.4+/4 resolves GROUP BY ALL to every non-aggregate select
# item and ORDER BY ALL to the full select list — the modern
# exploratory-SQL surface DuckDB popularized. The oracle spells the
# resolved form out explicitly, so the hash proves the resolution
# semantics (a mis-resolved ALL would group on the wrong columns and
# change every aggregate). Plan-wise this is still one partial+final
# hash aggregate; ALL is pure analysis-time sugar.

_GROUP_ALL_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("sql_group_order_all", oracle=_GROUP_ALL_ORACLE)
def sql_group_order_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem status rollup through GROUP BY ALL + ORDER BY ALL
    (hash-checked against the explicitly-resolved oracle)."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
                 AS sum_qty
        FROM lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# --- sql_lateral_alias (lateral column aliases in SELECT) -------------------
# Spark 3.4+ lets a select item reference an alias defined earlier in
# the SAME select list (spark.sql.lateralColumnAlias) — previously a
# subquery-or-repeat-the-expression choice. The chain below is three
# dependent computed columns; both engines evaluate the identical
# IEEE double expression tree, so the hash is exact. Catalyst inlines
# the aliases into one Project — no extra plan node, nothing changes
# at scale.

_LATERAL_ALIAS_ORACLE = """
SELECT o_orderkey,
       o_totalprice,
       o_totalprice * (1.0 - 0.04) AS net_price,
       o_totalprice * (1.0 - 0.04) * 1.06 AS taxed_price,
       o_totalprice * (1.0 - 0.04) * 1.06 - o_totalprice AS price_delta
FROM orders
WHERE o_orderpriority = '1-URGENT'
"""


@register("sql_lateral_alias", oracle=_LATERAL_ALIAS_ORACLE)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependent computed columns via lateral column aliases (the
    oracle repeats each expression, proving the aliases resolve to
    exactly the chained expression tree)."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey,
               o_totalprice,
               o_totalprice * (1.0 - 0.04) AS net_price,
               net_price * 1.06 AS taxed_price,
               taxed_price - o_totalprice AS price_delta
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        """
    )


# --- sql_unpivot_syntax (SQL UNPIVOT clause) --------------------------------
# The wide→long twin of sql_pivot_syntax: Spark's `UNPIVOT (val FOR
# name IN (...))` clause over a two-measure nation aggregate. The
# clause requires a common value type (the count is cast to DOUBLE)
# and by default DROPS NULL measure values — mirrored in the oracle's
# UNION ALL expansion with an IS NOT NULL guard, so the hash pins the
# default null semantics too. UNPIVOT is a per-row expand (Catalyst
# Expand node), no shuffle beyond the feeding aggregate.

_UNPIVOT_SQL_ORACLE = """
WITH m AS (
  SELECT n.n_name,
         CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS cust_bal,
         CAST(COUNT(*) AS DOUBLE) AS cust_n
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name, measure, amount FROM (
  SELECT n_name, 'cust_bal' AS measure, cust_bal AS amount FROM m
  UNION ALL
  SELECT n_name, 'cust_n' AS measure, cust_n AS amount FROM m
)
WHERE amount IS NOT NULL
"""


@register("sql_unpivot_syntax", oracle=_UNPIVOT_SQL_ORACLE)
def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation balance/count measures folded long through the SQL
    UNPIVOT clause (default null-dropping semantics)."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(
        """
        SELECT * FROM (
          SELECT n.n_name,
                 CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,4))) AS DOUBLE)
                   AS cust_bal,
                 CAST(COUNT(*) AS DOUBLE) AS cust_n
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name
        ) UNPIVOT (amount FOR measure IN (cust_bal, cust_n))
        """
    )


# --- sql_values_clause (inline VALUES as a joined relation) -----------------
# An inline VALUES constructor as a first-class relation: the
# five-row segment→tier mapping joins customer as a dimension —
# the zero-IO way to attach a small lookup (feature flags, tier
# maps, manual overrides) without materializing a table. Catalyst
# folds VALUES to a LocalRelation and auto-broadcasts it, so at
# 100 TB the join is a broadcast hash join against the scan with no
# shuffle of the fact side.

_VALUES_CLAUSE_ORACLE = """
SELECT t.tier,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS bal
FROM customer c
JOIN (VALUES ('AUTOMOBILE', 'retail'), ('FURNITURE', 'retail'),
             ('HOUSEHOLD', 'retail'), ('MACHINERY', 'industrial'),
             ('BUILDING', 'industrial')) t(c_mktsegment, tier)
  ON c.c_mktsegment = t.c_mktsegment
GROUP BY t.tier
"""


@register("sql_values_clause", oracle=_VALUES_CLAUSE_ORACLE)
def sql_values_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer tier rollup against an inline VALUES dimension
    (LocalRelation → broadcast join, no fact-side shuffle)."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        SELECT t.tier,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS bal
        FROM customer c
        JOIN (VALUES ('AUTOMOBILE', 'retail'), ('FURNITURE', 'retail'),
                     ('HOUSEHOLD', 'retail'), ('MACHINERY', 'industrial'),
                     ('BUILDING', 'industrial')) t(c_mktsegment, tier)
          ON c.c_mktsegment = t.c_mktsegment
        GROUP BY t.tier
        """
    )


# --- sql_identifier_clause (parameterized identifiers) ----------------------
# Spark 3.5+/4 IDENTIFIER(): table and column names supplied as
# PARAMETERS (spark.sql(..., args=...)) instead of f-string splicing
# — the injection-safe way to write reusable jobs over configurable
# table/column names (constant-folded at analysis, so the resolved
# plan is identical to the literal query — which is exactly what the
# oracle hash proves).

_IDENTIFIER_ORACLE = """
SELECT o_orderpriority AS dim_value,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
FROM orders
GROUP BY o_orderpriority
"""


@register("sql_identifier_clause", oracle=_IDENTIFIER_ORACLE)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a table/column pair bound through
    IDENTIFIER(:param) named parameters."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT IDENTIFIER(:dim) AS dim_value,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(IDENTIFIER(:measure) AS DECIMAL(38,4)))
                    AS DOUBLE) AS total
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:dim)
        """,
        args={"tbl": "orders", "dim": "o_orderpriority", "measure": "o_totalprice"},
    )
