"""Joins (SURVEY.md §2.3).

The reference's only join is MERGE's source↔target equi-join on
``names.id = updates.id`` (``api.py:92-94``), whose matched /
not-matched branches are semi/anti joins. This module covers that
family plus the scale-relevant strategies: broadcast for small dims,
multiway star joins (Catalyst reorders), theta/range join via
broadcast nested loop, as-of join via single-shuffle union+window,
and a bucketed self-join for pair generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.exact import dsum, sql_dsum
from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.operators.asof import asof_join
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table

# --- join_inner_equi (api.py:92-94 shape) ------------------------------

_INNER_ORACLE = """
SELECT o_orderkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
"""


@register("join_inner_equi", oracle=_INNER_ORACLE)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


# --- join_left_outer ----------------------------------------------------

_LEFT_ORACLE = """
SELECT c_custkey, o_orderkey
FROM customer LEFT JOIN orders
  ON o_custkey = c_custkey AND o_totalprice > 450000
"""


@register("join_left_outer", oracle=_LEFT_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (o.o_custkey == c.c_custkey) & (o.o_totalprice > 450000)
    return c.join(o, cond, "left").select("c_custkey", "o_orderkey")


# --- join_full_outer (MERGE's underlying join shape) --------------------

_FULL_ORACLE = """
WITH rich AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000
), busy AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
  GROUP BY o_custkey HAVING COUNT(*) >= 15
)
SELECT c_custkey, c_acctbal, o_custkey, n_orders
FROM rich FULL OUTER JOIN busy ON c_custkey = o_custkey
"""


@register("join_full_outer", oracle=_FULL_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_acctbal")
    )
    busy = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )
    return rich.join(busy, rich.c_custkey == busy.o_custkey, "full")


# --- join_left_semi: rows WITH a match (whenMatched set, api.py:95-97) --

_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
"""


@register("join_left_semi", oracle=_SEMI_ORACLE)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# --- join_left_anti: rows WITHOUT a match (whenNotMatched, api.py:98-102)

_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


@register("join_left_anti", oracle=_ANTI_ORACLE)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- join_broadcast: small-dim star edge, no shuffle of the fact --------

_BCAST_ORACLE = """
SELECT c_custkey, c_name, n_name, r_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
"""


@register("join_broadcast", oracle=_BCAST_ORACLE)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of nation/region: at 100 TB the fact side
    never shuffles for these joins (BroadcastHashJoin both edges)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


# --- join_multiway_star: TPC-H-Q5-shaped chained star joins -------------

_STAR_ORACLE = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register("join_multiway_star", oracle=_STAR_ORACLE)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem→orders→customer→nation→region. Catalyst pushes the
    region filter through the dim chain and broadcasts every dim; the
    fact table is scanned once, shuffled only for the final group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# --- join_theta_range: non-equi banding join ----------------------------

_BANDS = [(0.0, 100000.0, "low"), (100000.0, 300000.0, "mid"), (300000.0, 600000.0, "high")]

_THETA_ORACLE = f"""
WITH bands(lo, hi, band) AS (VALUES
  (0.0, 100000.0, 'low'), (100000.0, 300000.0, 'mid'), (300000.0, 600000.0, 'high'))
SELECT band, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


@register("join_theta_range", oracle=_THETA_ORACLE)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-band join: the band table is tiny and broadcast, so the
    non-equi condition runs as BroadcastNestedLoopJoin — fact rows
    stream through without a shuffle."""
    o = load_table(spark, sf_dir, "orders")
    bands = F.broadcast(
        local_df(spark, _BANDS, "lo double, hi double, band string")
    )
    cond = (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi)
    return (
        o.join(bands, cond)
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


# --- join_self_pairs: bucketed self-join (candidate pair pattern) -------

_PAIRS_ORACLE = """
SELECT a.n_regionkey AS r_key, a.n_name AS name_a, b.n_name AS name_b
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
"""


@register("join_self_pairs", oracle=_PAIRS_ORACLE)
def join_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join restricted to a bucket key (here region) with a
    total-order guard `a < b` — the shape LSH dedup uses so candidate
    pairs stay ≪ n² (see llm/dedup.py for the full pipeline)."""
    n = load_table(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_name") < F.col("b.n_name")),
    ).select(
        F.col("a.n_regionkey").alias("r_key"),
        F.col("a.n_name").alias("name_a"),
        F.col("b.n_name").alias("name_b"),
    )


# --- join_asof_last_event: as-of join via union+window ------------------

_ASOF_ORACLE = """
WITH u AS (
  SELECT user_id, ts::TIMESTAMP AS ats, event_id, 1 AS side, value AS purchase_value,
         NULL::STRUCT(v DOUBLE, t TIMESTAMP) AS carry
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts::TIMESTAMP, event_id, 0, NULL,
         struct_pack(v := value, t := ts::TIMESTAMP)
  FROM events WHERE event_type = 'click'
), g AS (
  -- carry the latest click ROW as a struct (mirrors operators/asof.py):
  -- a click whose value is NULL is still the latest click, it must not
  -- leak an older click's value via per-column IGNORE NULLS
  SELECT user_id, ats, event_id, side, purchase_value,
         (last_value(carry IGNORE NULLS) OVER w).v AS last_click_value,
         (last_value(carry IGNORE NULLS) OVER w).t AS last_click_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ats, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ats AS ts, purchase_value, last_click_value, last_click_ts
FROM g WHERE side = 1
"""


@register("join_asof_last_event", oracle=_ASOF_ORACLE)
def join_asof_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the latest click of the same user at or
    before it (operators/asof.py: one shuffle, no pair blow-up)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        ts="ts",
        right_values=["click_value", "click_ts"],
        tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.col("asof_click_value").alias("last_click_value"),
        F.col("asof_click_ts").alias("last_click_ts"),
    )


# --- join_salted_skew -----------------------------------------------------

_SALTED_ORACLE = """
SELECT l.l_orderkey, o.o_custkey, l.l_extendedprice
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
"""


@register("join_salted_skew", oracle=_SALTED_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join: the fact side carries a
    deterministic salt, the dimension side is replicated per salt
    value, and the join key becomes (key, salt) — a hot key's rows
    spread over `factor` reducers instead of one. Results are
    identical to the plain join, which is exactly what the oracle
    checks. (AQE's skew splitting handles this at runtime too; the
    operator is for the build-side-skew cases AQE can't split.)

    Library form: ``operators/salted_join.py::salted_join``."""
    from delta_lake_play_spark.operators.salted_join import salted_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "okey"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .withColumnRenamed("o_orderkey", "okey")
    )
    joined = salted_join(
        li.select("okey", "l_linenumber", "l_extendedprice"),
        orders.select("okey", "o_custkey"),
        key="okey",
        salt_cols=["okey", "l_linenumber"],
        factor=8,
    )
    return joined.select(
        F.col("okey").alias("l_orderkey"), "o_custkey", "l_extendedprice"
    )


# --- join_bucketed_colocated ----------------------------------------------

_BUCKETED_ORACLE = """
SELECT l.l_orderkey, l.l_extendedprice, o.o_custkey
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


@register("join_bucketed_colocated", oracle=_BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketing: both sides are written
    bucketBy(8) + sortBy on the join key, so the sort-merge join
    consumes the bucket layout directly — ZERO exchanges in the plan
    (asserted in tests/test_plan_shapes.py). At 100 TB this is how a
    fact-fact join avoids shuffling either table: pay the layout cost
    once at write time, join shuffle-free forever after. The merge
    hint keeps the demo on the SMJ path regardless of broadcast
    thresholds."""
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    for name, df, key in [("b_lineitem", li, "l_orderkey"), ("b_orders", o, "o_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            # repartition on the BUCKET key to the bucket count first
            # (optimization r11): partitions then align 1:1 with
            # buckets, so the layout write runs bucket-parallel and
            # emits exactly one file per bucket — a single-partition
            # input otherwise writes all 8 buckets from one task
            # (guide §6: writer parallelism + file sizing together).
            df.repartition(8, F.col(key))
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", tempfile.mkdtemp(prefix=f"bucket_{name}_"))
            .mode("overwrite")
            .saveAsTable(name)
        )
    bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
    return (
        bl.hint("merge")
        .join(bo, bl.l_orderkey == bo.o_orderkey)
        .select("l_orderkey", "l_extendedprice", "o_custkey")
    )


# --- join_region_revenue (TPC-H Q5 shape) ---------------------------------

_Q5_REGION = "ASIA"
_Q5_FROM = "1996-01-01"
_Q5_TO = "1997-01-01"

_Q5_ORACLE = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer
JOIN orders    ON c_custkey = o_custkey
JOIN lineitem  ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation    ON s_nationkey = n_nationkey
JOIN region    ON n_regionkey = r_regionkey
WHERE r_name = '{_Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{_Q5_FROM}'
  AND o_orderdate < TIMESTAMP '{_Q5_TO}'
GROUP BY n_name
"""


@register("join_region_revenue", oracle=_Q5_ORACLE)
def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: per-nation revenue for one region and order
    year across customer⋈orders⋈lineitem⋈supplier⋈nation⋈region —
    the local-supplier-volume pattern. Plan shape at 100 TB: region/
    nation/supplier/customer broadcast (all far under the threshold
    after the region filter pushes down), so the only shuffled
    relations are the two facts, and Catalyst orders the joins to
    filter orders by date BEFORE touching lineitem. Revenue uses the
    exact cent-grid sum so the hash matches DuckDB bit-for-bit."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q5_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q5_TO).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == _Q5_REGION)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(revenue, 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --- join_shipping_priority (TPC-H Q3 shape) ------------------------------

_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1998-06-01"

_Q3_ORACLE = f"""
SELECT l_orderkey, {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{_Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{_Q3_DATE}'
  AND l_shipdate  > TIMESTAMP '{_Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("join_shipping_priority", oracle=_Q3_ORACLE)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-orders revenue by order, top 10.

    Scale shape: the segment filter cuts customer ~5x before its
    join, both date filters push to the parquet scans, the filtered
    customer side broadcasts, and the final ORDER BY ... LIMIT 10
    compiles to TakeOrderedAndProject (per-partition top-k heaps +
    driver merge of 10 rows — no global sort). The groupBy key
    (l_orderkey) is the lineitem join key, so AQE can plan the agg
    without a second full shuffle of the join output."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == _Q3_SEGMENT
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# --- join_range_bucketed --------------------------------------------------
# Fact-to-fact interval join. join_theta_range broadcasts because its
# band table is tiny; when BOTH sides are large the nested-loop plan
# is quadratic and there is nothing to broadcast. Scale path: quantize
# the range dimension into fixed-width buckets, expand each probe's
# interval to the buckets it covers (a trailing window equal to the
# bucket width = exactly 2 rows per probe), hash-equi-join on
# (type, bucket), then refine with the exact predicate. A (probe,
# event) pair meets in exactly the event's bucket, so no dedup pass
# is needed.

_RB_WIDTH_US = 600 * 1_000_000  # 10-minute buckets == trailing window

_RB_ORACLE = """
SELECT a.event_id,
       CAST(count(*) AS BIGINT) AS n_recent,
       CAST(SUM(CAST(round(b.value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
         AS sum_value
FROM events a
JOIN events b
  ON b.event_type = a.event_type
 AND b.ts::TIMESTAMP BETWEEN a.ts::TIMESTAMP - INTERVAL 10 MINUTE
                         AND a.ts::TIMESTAMP
WHERE a.event_id % 20 = 0
GROUP BY a.event_id
"""


@register("join_range_bucketed", oracle=_RB_ORACLE)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-10-minute same-type activity (count + value
    sum) via the bucketed interval self-join. Both inputs shuffle
    ONCE on the (event_type, bucket) key — plain hash partitioning,
    no range-partition sampling pass, no nested-loop — probe rows
    are duplicated exactly 2x, and the refine filter runs inside the
    join's codegen stage. The same recipe handles any window/width
    ratio at ceil(window/width)+1 rows per probe."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    probes = ev.where(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("probe_id"),
        F.col("event_type"),
        F.col("ts").alias("probe_ts"),
        F.explode(
            F.array(
                F.floor((F.col("us") - _RB_WIDTH_US) / _RB_WIDTH_US),
                F.floor(F.col("us") / _RB_WIDTH_US),
            )
        ).alias("bucket"),
    )
    pts = ev.select(
        "event_type",
        "ts",
        "value",
        F.floor(F.col("us") / _RB_WIDTH_US).alias("bucket"),
    )
    refined = probes.join(pts, ["event_type", "bucket"]).where(
        (F.col("ts") >= F.col("probe_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("ts") <= F.col("probe_ts"))
    )
    return refined.groupBy(F.col("probe_id").alias("event_id")).agg(
        F.count("*").alias("n_recent"),
        dsum("value").alias("sum_value"),
    )


# --- join_null_key_split --------------------------------------------------

# Sparse-foreign-key pattern: a fact column that is NULL for a large
# fraction of rows (derived deterministically here) LEFT-joined to its
# dimension. The operator routes NULL keys around the shuffle — at
# 100 TB the alternative is one straggler partition holding every
# NULL-key row. Oracle is the plain LEFT JOIN: the split must be
# invisible in the result.

_NULLSPLIT_ORACLE = """
SELECT l_orderkey, l_linenumber, lsk, s_name
FROM (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_partkey % 3 = 0 THEN NULL ELSE l_suppkey END AS lsk
  FROM lineitem
) f
LEFT JOIN supplier ON f.lsk = s_suppkey
"""


@register("join_null_key_split", oracle=_NULLSPLIT_ORACLE)
def join_null_key_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join on a 1/3-NULL foreign key via the null-split operator
    (``operators/salted_join.py::null_split_left_join``): NULL-key
    rows bypass the join entirely, so no shuffle partition inherits
    the full NULL population. Result is bit-identical to the plain
    LEFT JOIN the oracle runs."""
    from delta_lake_play_spark.operators.salted_join import null_split_left_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_partkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("l_suppkey")
        ).alias("lsk"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return null_split_left_join(li, s, "lsk", "s_suppkey").select(
        "l_orderkey", "l_linenumber", "lsk", "s_name"
    )


# --- join_cross_small -----------------------------------------------------

# The one legitimate cartesian: an explicit small-dims cross join
# building the full (region x nation) evaluation grid, then a LEFT
# join marks which combinations actually occur — the "report every
# cell, present or not" reporting pattern. Both inputs are bounded
# dimensions; the cross product is 125 rows, never fact-sized.

_CROSS_ORACLE = """
SELECT r.r_name, n.n_name,
       (n.n_regionkey = r.r_regionkey) AS is_home_region
FROM region r CROSS JOIN nation n
"""


@register("join_cross_small", oracle=_CROSS_ORACLE)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit crossJoin of two bounded dims (the evaluation-grid
    pattern). Everywhere else in this engine a CartesianProduct in
    the plan is a bug (pinned by tests); here it is the declared
    intent, and the grid size is the product of two dimension
    cardinalities — independent of fact volume."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home_region"),
    )


# --- join_asof_next_event -------------------------------------------------

# FORWARD as-of: for each click, the user's NEXT purchase at-or-after
# it — the "time to conversion" join. Implemented by running the
# backward as-of operator on NEGATED event time (largest negated ts
# <= target = smallest real ts >= target), so the single-shuffle
# union+window machinery is reused unchanged; only the query layer
# flips the direction. Oracle is a correlated LATERAL top-1, the
# obviously-correct form.

_ASOF_NEXT_ORACLE = """
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       nxt.value AS next_purchase_value, nxt.ts AS next_purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN LATERAL (
  SELECT p.value, p.ts FROM events p
  WHERE p.event_type = 'purchase'
    AND p.user_id = c.user_id AND p.ts >= c.ts
  ORDER BY p.ts, p.event_id LIMIT 1
) nxt ON TRUE
"""


@register("join_asof_next_event", oracle=_ASOF_NEXT_ORACLE)
def join_asof_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of via time negation over ``operators/asof.py``:
    ties on equal ts resolve to the lowest event_id (negated
    tiebreak), matching the oracle's ORDER BY ts, event_id LIMIT 1."""
    from delta_lake_play_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    neg = (-F.unix_micros(F.col("ts").cast("timestamp"))).alias("tneg")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        neg,
        (-F.col("event_id")).alias("tb"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        neg,
        (-F.col("event_id")).alias("tb"),
        F.col("value").alias("next_purchase_value"),
        F.col("ts").alias("next_purchase_ts"),
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        ts="tneg",
        right_values=["next_purchase_value", "next_purchase_ts"],
        tiebreak="tb",
    )
    return out.select(
        "click_id",
        "user_id",
        "click_ts",
        F.col("asof_next_purchase_value").alias("next_purchase_value"),
        F.col("asof_next_purchase_ts").alias("next_purchase_ts"),
    )


# --- join_asof_tolerance ------------------------------------------------------
#
# As-of with a staleness TOLERANCE (pandas merge_asof(tolerance=…) /
# kdb wj semantics): a matched right row older than the bound is no
# match at all. Same one-shuffle union+window plan as
# join_asof_last_event — the bound is a post-projection on the
# carried timestamp (integer-µs arithmetic), costing nothing extra:
# no second window, no range join.

_ASOF_TOL_US = 30 * 60 * 1_000_000  # 30 minutes

_ASOF_TOL_ORACLE = f"""
WITH u AS (
  SELECT user_id, ts::TIMESTAMP AS ats, event_id, 1 AS side, value AS purchase_value,
         NULL::STRUCT(v DOUBLE, t TIMESTAMP) AS carry
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts::TIMESTAMP, event_id, 0, NULL,
         struct_pack(v := value, t := ts::TIMESTAMP)
  FROM events WHERE event_type = 'click'
), g AS (
  SELECT user_id, ats, event_id, side, purchase_value,
         (last_value(carry IGNORE NULLS) OVER w).v AS lv,
         (last_value(carry IGNORE NULLS) OVER w).t AS lt
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ats, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), b AS (
  SELECT *, (lt IS NOT NULL
             AND epoch_us(ats) - epoch_us(lt) <= {_ASOF_TOL_US}) AS fresh
  FROM g WHERE side = 1
)
SELECT event_id, user_id, ats AS ts, purchase_value,
       CASE WHEN fresh THEN lv END AS last_click_value,
       CASE WHEN fresh THEN lt END AS last_click_ts,
       fresh AS within_tolerance
FROM b
"""


@register("join_asof_tolerance", oracle=_ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest same-user click before each purchase, but only if it is
    at most 30 minutes old — stale matches become NULL."""
    from delta_lake_play_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        ts="ts",
        right_values=["click_value", "click_ts"],
        tiebreak="event_id",
    )
    fresh = F.col("asof_click_ts").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("asof_click_ts")
        <= F.lit(_ASOF_TOL_US)
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.when(fresh, F.col("asof_click_value")).alias("last_click_value"),
        F.when(fresh, F.col("asof_click_ts")).alias("last_click_ts"),
        fresh.alias("within_tolerance"),
    )


# --- join_fuzzy_blocked (edit-distance join via blocking) -------------------
# The entity-resolution join shape (operators/fuzzy.py): match
# corrupted name variants back to the customer master WITHOUT an
# all-pairs cross product — block on (length, last-4 chars), verify
# levenshtein only within blocks. Every tenth customer gets a
# deterministic single-character substitution at name position 12
# (inside the digit run, away from the blocked tail), so the
# variant's block keys equal its source's and recall is exact; at
# sf>=0.1 the blocks also surface true original-original near-matches
# (ids sharing the last 4 digits, one digit apart) — real fuzzy hits,
# not fixture artifacts.

_FUZZY_ORACLE = """
WITH c AS (SELECT c_custkey, c_name FROM customer),
v AS (
  SELECT c_custkey AS variant_id,
         substr(c_name, 1, 11) || 'X' || substr(c_name, 13) AS v_name
  FROM c WHERE c_custkey % 10 = 0
)
SELECT v.variant_id, c.c_custkey AS matched_id,
       CAST(levenshtein(v.v_name, c.c_name) AS INTEGER) AS lev
FROM v JOIN c
  ON length(v.v_name) = length(c.c_name)
 AND substr(v.v_name, -4, 4) = substr(c.c_name, -4, 4)
WHERE levenshtein(v.v_name, c.c_name) <= 1
"""


@register("join_fuzzy_blocked", oracle=_FUZZY_ORACLE)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join: corrupted name variants matched to the
    customer master at levenshtein <= 1 through the
    (length, last-4-chars) blocking shuffle — candidate-then-verify,
    never all-pairs. Library form: operators/fuzzy.py."""
    from delta_lake_play_spark.operators.fuzzy import fuzzy_join_blocked

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    v = c.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("variant_id"),
        F.concat(
            F.substring("c_name", 1, 11),
            F.lit("X"),
            F.expr("substring(c_name, 13)"),
        ).alias("v_name"),
    )
    return fuzzy_join_blocked(
        v, c, "variant_id", "c_custkey", "v_name", "c_name", max_dist=1
    ).select(
        "variant_id",
        F.col("c_custkey").alias("matched_id"),
        F.col("lev").cast("int").alias("lev"),
    )


# --- join_asof_nearest --------------------------------------------------------
#
# The third as-of direction (after last_event/backward and
# next_event/forward): attach the click NEAREST in time to each
# purchase, whichever side it falls on — merge_asof
# direction='nearest' / sensor-alignment semantics, ties to the
# earlier row. One shuffle, two window functions over the SAME sort
# (operators/asof.py::asof_join_nearest): the backward carry is
# last(ignorenulls) over unbounded-preceding, the forward carry
# first(ignorenulls) from the current row on; same-ts right rows
# sort before the left row, land in the backward carry with Δ = 0,
# and win every tie by construction. Deltas compare as integer
# microseconds on both engines.

_ASOF_NEAREST_ORACLE = """
WITH u AS (
  SELECT user_id, ts::TIMESTAMP AS ats, event_id, 1 AS side,
         value AS purchase_value,
         NULL::STRUCT(v DOUBLE, t TIMESTAMP) AS carry
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts::TIMESTAMP, event_id, 0, NULL,
         struct_pack(v := value, t := ts::TIMESTAMP)
  FROM events WHERE event_type = 'click'
), g AS (
  SELECT user_id, ats, event_id, side, purchase_value,
         last_value(carry IGNORE NULLS) OVER wb AS back,
         first_value(carry IGNORE NULLS) OVER wf AS fwd
  FROM u
  WINDOW wb AS (PARTITION BY user_id ORDER BY ats, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY ats, side, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), p AS (
  SELECT *,
         (fwd IS NULL OR (back IS NOT NULL
            AND epoch_us(ats) - epoch_us(back.t)
                <= epoch_us(fwd.t) - epoch_us(ats))) AS pick_back
  FROM g WHERE side = 1
)
SELECT event_id, user_id, ats AS ts, purchase_value,
       CASE WHEN pick_back THEN back.v ELSE fwd.v END AS nearest_value,
       CASE WHEN pick_back THEN back.t ELSE fwd.t END AS nearest_ts,
       CASE WHEN back IS NULL AND fwd IS NULL THEN NULL
            WHEN pick_back THEN 'backward' ELSE 'forward' END
         AS nearest_direction
FROM p
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest same-user click to each purchase, either direction,
    ties to the earlier click."""
    from delta_lake_play_spark.operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.col("value").alias("v")
    )
    out = asof_join_nearest(
        purchases, clicks, on=["user_id"], ts="ts",
        right_values=["v"], tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.col("nearest_v").alias("nearest_value"),
        F.col("nearest_ts"),
        "nearest_direction",
    )
