"""Aggregations (SURVEY.md §2.4).

The reference's only aggregate is the latest-version max
(``api.py:75`` — ``history().agg({"version": "max"})``); everything
else is the north-star analytical surface. All of these compile to
Spark's partial+final HashAggregate (map-side combine), so shuffle
volume is #groups, not #rows — the property that matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.exact import dsum, sql_dsum
from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table

# --- agg_max_scalar (api.py:75 shape) -----------------------------------

_MAX_ORACLE = """
SELECT max(o_totalprice) AS max_price,
       max(o_orderdate) AS max_date,
       max(o_orderkey)  AS max_key
FROM orders
"""


@register("agg_max_scalar", oracle=_MAX_ORACLE)
def agg_max_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.max("o_totalprice").alias("max_price"),
        F.max("o_orderdate").alias("max_date"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- agg_count_distinct: exact distinct (expand + 2-phase agg) ----------

_CD_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


@register("agg_count_distinct", oracle=_CD_ORACLE)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# --- agg_bitmap_distinct: EXACT distinct via fixed-width bitmaps ----------
# The third point on the distinct-count spectrum (exact expand /
# HLL estimate / THIS): Spark 3.5+ bitmap aggregates. Each value maps
# to (bucket = id >> 15, bit position); bitmap_construct_agg ORs the
# bits into a fixed ≤4 KB binary per (group, bucket) with map-side
# partial merge, so the shuffle carries bounded bitmap state instead
# of every distinct value — exact answers with sketch-like shuffle
# width. This is how warehouses maintain exact-NDV materialized
# views; the oracle is plain COUNT(DISTINCT).

_BITMAP_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders GROUP BY o_orderpriority
"""


@register("agg_bitmap_distinct", oracle=_BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per order priority through bitmap
    aggregation: two hash aggregates, both map-side combined, the
    first keyed (group, bitmap_bucket_number(v)) with a fixed-size
    bitmap value — distinct-value traffic never crosses the wire.
    Hash-checked against COUNT(DISTINCT); the plan contains no
    Expand node (unlike agg_count_distinct's rewrite)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_custs")
        )
    )


# --- agg_approx_count_distinct: HLL++ with a bounded-error oracle --------

# The estimate itself is engine-specific, so the HASHED contract is
# {group, exact, within_eps}: Spark computes the estimate AND the
# boolean |est − exact| ≤ ε·exact; DuckDB computes the exact side and
# asserts the boolean is TRUE. A blown error bound flips the Spark
# boolean and hash-mismatches (VERDICT r9 ask #3). ε = 3·rsd (rsd
# 0.05 requested below — a 3-sigma bound on a deterministic
# fixed-data estimate) + 2 absolute for near-exact tiny groups.
_APPROX_CD_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_events,
       TRUE AS users_within_eps,
       TRUE AS events_within_eps
FROM events GROUP BY event_type
"""


@register("agg_approx_count_distinct", oracle=_APPROX_CD_ORACLE)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch: constant memory per group regardless of
    cardinality — the 100 TB substitute for exact distinct. The exact
    sides here exist only to hash the error-bound contract; a
    production rollup would keep just the approx columns (no Expand,
    no per-key shuffle)."""
    ev = load_table(spark, sf_dir, "events")

    def within(est: str, exact: str):
        return F.abs(F.col(est) - F.col(exact)) <= (
            F.col(exact) * 0.15 + F.lit(2)
        )

    g = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("event_id", 0.05).alias("approx_events"),
        F.count_distinct("event_id").alias("exact_events"),
    )
    return g.select(
        "event_type",
        "exact_users",
        "exact_events",
        within("approx_users", "exact_users").alias("users_within_eps"),
        within("approx_events", "exact_events").alias("events_within_eps"),
    )


# --- agg_rollup: hierarchical subtotals ----------------------------------

_ROLLUP_ORACLE = f"""
SELECT r_name, n_name, COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_bal")
    )


# --- agg_cube: all grouping combinations ---------------------------------

_CUBE_ORACLE = f"""
SELECT l_returnflag, l_linestatus, {sql_dsum('l_quantity', 0)} AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 0).alias("sum_qty"), F.count("*").alias("n")
    )


# --- agg_grouping_sets: explicit grouping sets ---------------------------

_GSETS_SQL = f"""
SELECT r_name, c_mktsegment, COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
"""


@register("agg_grouping_sets", oracle=_GSETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same SQL text runs on both engines (ANSI GROUPING SETS)."""
    for t in ("customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_GSETS_SQL)


# --- agg_collect_list_set: grouped array materialization ------------------
# Arrays are rendered to sorted CSV strings so the value hash is
# deterministic and engine-independent.

_COLLECT_ORACLE = """
SELECT r_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_regionkey
"""


@register("agg_collect_list_set", oracle=_COLLECT_ORACLE)
def agg_collect_list_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_regionkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
        )
    )


# --- agg_filtered: conditional aggregation --------------------------------

_FILTERED_ORACLE = f"""
SELECT l_linestatus,
       {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END", 0)} AS qty_returned,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       COUNT(*) AS n
FROM lineitem GROUP BY l_linestatus
"""


@register("agg_filtered", oracle=_FILTERED_ORACLE)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        dsum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity")), 0).alias(
            "qty_returned"
        ),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
        F.count("*").alias("n"),
    )


# --- agg_percentile: exact quantiles ---------------------------------------
# Quantile fractions are powers of two (0.25/0.5/0.75) so linear
# interpolation is bit-exact on both engines.

_PCTL_ORACLE = """
SELECT l_returnflag,
       median(l_quantity) AS med_qty,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.75) AS q75
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_percentile", oracle=_PCTL_ORACLE)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )


# --- agg_pivot ------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

_PIVOT_ORACLE = """
SELECT c_nationkey,
       {cols}
FROM customer
GROUP BY c_nationkey
""".format(
    cols=",\n       ".join(
        f"count(*) FILTER (c_mktsegment = '{s}') AS {s.lower()}" for s in _SEGMENTS
    )
)


@register("agg_pivot", oracle=_PIVOT_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one output column per market segment. The segment list
    is declared, not discovered — at scale an undeclared pivot runs
    an extra distinct pass AND risks an unbounded column explosion;
    declaring values keeps it a single partial+final aggregate."""
    c = load_table(spark, sf_dir, "customer")
    out = (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", _SEGMENTS)
        .count()
    )
    renamed = out.select(
        "c_nationkey", *[F.col(s).alias(s.lower()) for s in _SEGMENTS]
    )
    # Pivot leaves null for absent (nation, segment) pairs; the SQL
    # FILTER form yields 0 — align on 0.
    return renamed.na.fill(0, [s.lower() for s in _SEGMENTS])


# --- agg_max_by_min_by ----------------------------------------------------

_MAXBY_ORACLE = """
SELECT o_custkey,
       max_by(o_orderkey, o_totalprice) AS best_order,
       min_by(o_orderkey, o_totalprice) AS worst_order,
       max(o_totalprice) AS best_price
FROM orders
GROUP BY o_custkey
"""


@register("agg_max_by_min_by", oracle=_MAXBY_ORACLE)
def agg_max_by_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregation (the 'top row per group without a
    join-back' pattern). o_totalprice is unique per customer in this
    data, so max_by is deterministic across engines."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("best_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("worst_order"),
        F.max("o_totalprice").alias("best_price"),
    )


# --- agg_stddev_exact -----------------------------------------------------

_STDDEV_ORACLE = """
WITH s AS (
  SELECT event_type,
         count(*) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxx
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            / (CAST(n AS DOUBLE) * (n - 1))) / 100.0 AS stddev_value
FROM s
"""


@register("agg_stddev_exact", oracle=_STDDEV_ORACLE)
def agg_stddev_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample standard deviation via exact integer sums of x and x²
    on the 2-dp value grid, finished by one deterministic IEEE
    formula — order-independent, unlike the built-in Welford-update
    stddev whose float accumulation depends on partition order (the
    built-in is the right choice when you don't need cross-run
    bit-stability; this is the pattern when you do)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(cents * cents).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    # sample variance = (n·Σx² − (Σx)²) / (n·(n−1)). The SUMS stay
    # exact integers (order-independence); the combination runs in
    # DOUBLE — n·Σx² overflows int64 near n≈2e5 groups of 5-digit
    # cents (caught by the sf1 anchor run under ANSI mode), and the
    # identical expression tree on both engines keeps it hash-stable.
    nd, sxd = n.cast("double"), sx.cast("double")
    stddev = F.sqrt((nd * sxx - sxd * sx) / (nd * (n - 1))) / 100.0
    return agg.select("event_type", "n", stddev.alias("stddev_value"))


# --- agg_corr_exact -------------------------------------------------------

_CORR_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS sxy,
         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(SUM(CAST(round(l_tax * 100) AS BIGINT) * CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
       (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS corr_disc_tax
FROM s
"""


@register("agg_corr_exact", oracle=_CORR_ORACLE)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact integer sums on the 2-dp grid
    (same pattern as agg_stddev_exact): order-independent and
    bit-identical across engines, unlike the built-in streaming corr
    whose accumulation order varies with partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    y = F.round(F.col("l_tax") * 100, 0).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # numerator in DOUBLE like the denominator: n·Σxy outgrows int64
    # with corpus size (same overflow class the sf1 anchor caught in
    # agg_stddev_exact); the sums themselves stay exact integers
    corr = (n.cast("double") * sxy - sx.cast("double") * sy) / (
        F.sqrt(n.cast("double") * sxx - sx.cast("double") * sx)
        * F.sqrt(n.cast("double") * syy - sy.cast("double") * sy)
    )
    return s.select("l_returnflag", "n", corr.alias("corr_disc_tax"))


# --- agg_median -----------------------------------------------------------

_MEDIAN_ORACLE = """
SELECT event_type,
       CAST(median(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS median_value,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
"""


@register("agg_median", oracle=_MEDIAN_ORACLE)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median on the cent grid: both engines take the
    true middle element (or the IEEE midpoint of the middle pair —
    identical arithmetic on int64 inputs), so the result is
    hash-comparable where a float-valued median could drift. Exact
    medians need the full sorted group; at 100 TB the streaming
    substitute is approx_percentile's KLL sketch (bounded state,
    mergeable) — exercised by agg_percentile/agg_approx_count keys."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy("event_type").agg(
        (F.median(cents) / 100.0).cast("double").alias("median_value"),
        F.count("*").alias("n"),
    )


# --- agg_mode -------------------------------------------------------------

_MODE_ORACLE = """
WITH c AS (
  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_orderpriority, o_orderstatus
)
SELECT o_orderpriority, o_orderstatus AS mode_status, cnt
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY cnt DESC, o_orderstatus DESC) AS rn
  FROM c
) WHERE rn = 1
"""


@register("agg_mode", oracle=_MODE_ORACLE)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value).

    The built-in ``F.mode`` breaks ties arbitrarily, which is
    non-reproducible across engines AND across Spark runs — so the
    mode is computed as count-then-argmax with an explicit tiebreak
    (highest count, then lexicographically largest value). Two
    map-side-combined shuffles on tiny key spaces; the second input
    is |priorities| x |statuses| rows regardless of table size, so
    this scales to any row count."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("cnt")
    )
    best = counts.groupBy("o_orderpriority").agg(
        F.max(F.struct("cnt", "o_orderstatus")).alias("best")
    )
    return best.select(
        "o_orderpriority",
        F.col("best.o_orderstatus").alias("mode_status"),
        F.col("best.cnt").alias("cnt"),
    )


# --- agg_histogram --------------------------------------------------------

_HIST_WIDTH = 50_000

_HIST_ORACLE = f"""
SELECT CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       CAST(floor(o_totalprice / {_HIST_WIDTH}) * {_HIST_WIDTH} AS DOUBLE) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY 1, 2
"""


@register("agg_histogram", oracle=_HIST_ORACLE)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram as a groupBy on the bucket index —
    the one-pass, map-side-combined shape (bucket count is bounded by
    the value range, not the row count). min/max per bucket double as
    a sanity check that bucketing is tight."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / _HIST_WIDTH)
    return o.groupBy(
        bucket.alias("bucket"),
        (bucket * _HIST_WIDTH).cast("double").alias("bucket_lo"),
    ).agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# --- agg_sketch_hll: mergeable distinct-count sketches ---------------------


# Bounded-error oracle (VERDICT r9 ask #3): the sketch estimate is
# engine-specific, so the hashed row is {segment, exact, within_eps}
# — DuckDB supplies the exact distinct and TRUE; Spark supplies the
# real |est − exact| ≤ 5%·exact + 2 boolean (default lgConfigK=12 →
# rsd ≈ 1.6%, so 5% is a ≥3-sigma bound; +2 covers sparse-mode
# near-exact tiny segments). A blown bound hash-mismatches.
_SKETCH_HLL_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct,
       TRUE AS within_eps
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT '__ALL__' AS c_mktsegment,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct,
       TRUE AS within_eps
FROM customer
"""


@register("agg_sketch_hll", oracle=_SKETCH_HLL_ORACLE)
def agg_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL: per-segment sketches, then a sketch-merge
    rollup — the mergeable-partial-aggregate pattern that replaces
    exact COUNT(DISTINCT) at 100 TB (no key-wide shuffle: each
    partition emits a fixed-size sketch, merges are associative, and
    a segment-level sketch can be reused for any segment rollup
    without touching the data again). The exact side exists only to
    hash the error-bound contract; the ±2% bound is also asserted in
    ``tests/test_operators.py::test_hll_estimate_error_bound``."""
    c = load_table(spark, sf_dir, "customer")
    seg = c.groupBy("c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.count_distinct("c_custkey").alias("exact_distinct"),
    )
    per_seg = seg.select(
        "c_mktsegment",
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        "exact_distinct",
    )
    total = seg.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct"),
        F.sum("exact_distinct").alias("exact_distinct"),
    ).select(
        F.lit("__ALL__").alias("c_mktsegment"), "est_distinct", "exact_distinct"
    )
    return per_seg.unionByName(total).select(
        "c_mktsegment",
        "exact_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * 0.05 + F.lit(2)
        ).alias("within_eps"),
    )


# --- fn_bool_agg: boolean aggregates ---------------------------------------

_BOOL_AGG_ORACLE = """
SELECT c_mktsegment,
       bool_and(c_acctbal > -500) AS all_above_floor,
       bool_or(c_acctbal > 9000) AS any_premium,
       CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_negative
FROM customer GROUP BY c_mktsegment
"""


@register("fn_bool_agg", oracle=_BOOL_AGG_ORACLE)
def fn_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or / count_if per group — one map-side-combined
    aggregate; booleans partial-combine to single bytes."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.bool_and(F.col("c_acctbal") > -500).alias("all_above_floor"),
        F.bool_or(F.col("c_acctbal") > 9000).alias("any_premium"),
        F.count_if(F.col("c_acctbal") < 0).cast("bigint").alias("n_negative"),
    )


# --- agg_retention_cohort -------------------------------------------------

# Classic cohort retention: users grouped by their first-activity day,
# distinct active users per (cohort_day, day_offset). Two shuffles —
# the per-user min (map-side combined, #users rows) and the final
# distinct-count — both keyed far below event cardinality.

_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS BIGINT)
         AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


@register("agg_retention_cohort", oracle=_RETENTION_ORACLE)
def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: cohort = each user's first active day;
    cell = distinct users from that cohort active N days later. The
    firsts aggregate broadcasts back onto events (users ≪ events), so
    the fact table is touched once with no wide shuffle before the
    final low-cardinality distinct count."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    return (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).cast("bigint").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# --- agg_grouping_id ------------------------------------------------------

# grouping()/grouping_id() distinguish real NULL group keys from
# subtotal rows — without them a rollup over a nullable column is
# ambiguous. Both engines implement the SQL-standard bit encoding.

_GROUPING_ID_ORACLE = """
SELECT r_name, n_name,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register("agg_grouping_id", oracle=_GROUPING_ID_ORACLE)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping()/grouping_id() flags marking which NULLs
    are subtotals. gid is computed from the per-column grouping bits
    (Spark's grouping_id() and DuckDB's GROUPING_ID() agree on the
    same encoding, but deriving it keeps the expression visibly
    portable)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    g = F.grouping  # per-column subtotal bit
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            g("r_name").cast("bigint").alias("g_region"),
            g("n_name").cast("bigint").alias("g_nation"),
            (g("r_name").cast("bigint") * 2 + g("n_name").cast("bigint")).alias("gid"),
            F.count("*").alias("n"),
        )
    )


# --- agg_string_agg -------------------------------------------------------

# Within-group string concatenation — the report/export staple. Spark
# 4 has listagg(), but without a WITHIN GROUP ordering its result is
# partition-order-dependent; the deterministic form is sort-then-join
# (identical to DuckDB's string_agg ... ORDER BY).

_STRING_AGG_ORACLE = """
SELECT n_nationkey,
       string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_nationkey
"""


@register("agg_string_agg", oracle=_STRING_AGG_ORACLE)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation comma-joined supplier list. array_join ∘ array_sort
    ∘ collect_list renders the aggregation order-deterministic —
    bare listagg() (Spark 4) concatenates in partition arrival order
    and would hash differently run to run."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "suppliers"
            ),
            F.count("*").alias("n_suppliers"),
        )
    )


# --- agg_table_profile ----------------------------------------------------

# ANALYZE-style column profiling in ONE pass: row count plus per-
# column null counts, exact distinct counts, and min/max, as a single
# multi-aggregate — the stats backbone of data-quality monitoring and
# CBO. One scan, one aggregate; the distinct counts expand internally
# (Spark's multi-distinct rewrite) but never rescan the table.

_PROFILE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(c_name) AS BIGINT) AS name_nulls,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nation_ndv,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS segment_ndv,
       MIN(c_acctbal) AS acctbal_min,
       MAX(c_acctbal) AS acctbal_max,
       MIN(c_custkey) AS custkey_min,
       MAX(c_custkey) AS custkey_max
FROM customer
"""


@register("agg_table_profile", oracle=_PROFILE_ORACLE)
def agg_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile: cardinalities, null counts, value
    ranges. At 100 TB you'd swap the exact NDVs for
    approx_count_distinct partials (see agg_sketch_hll) — the plan
    shape (one scan, partial+final aggregate) is unchanged."""
    c = load_table(spark, sf_dir, "customer")
    return c.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("c_name")).alias("name_nulls"),
        F.countDistinct("c_nationkey").alias("nation_ndv"),
        F.countDistinct("c_mktsegment").alias("segment_ndv"),
        F.min("c_acctbal").alias("acctbal_min"),
        F.max("c_acctbal").alias("acctbal_max"),
        F.min("c_custkey").alias("custkey_min"),
        F.max("c_custkey").alias("custkey_max"),
    )


# --- agg_sketch_cms: mergeable frequency sketch ----------------------------


# Bounded-error oracle (VERDICT r9 ask #3): CMS guarantees est ≥ exact
# and est ≤ exact + ε·N (ε = 0.001, N = total events) with
# probability 1−δ; for FIXED data and a fixed seed the estimate is
# deterministic, so the boolean is a hashable contract. DuckDB
# supplies the exact per-user counts and TRUE; Spark supplies the
# real bound check — an over/under-estimating probe hash-mismatches.
_SKETCH_CMS_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS exact_count,
       TRUE AS within_bound
FROM events GROUP BY user_id
"""


@register("agg_sketch_cms", oracle=_SKETCH_CMS_ORACLE)
def agg_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation, fully distributed:
    ONE pass builds a fixed-size mergeable frequency sketch over every
    event's user key (Spark's ``count_min_sketch`` aggregate —
    partials merge map-side, so at 100 TB the cost is the scan plus a
    few KB of sketch per partition). The only driver traffic is the
    sketch itself (~100 KB at eps=0.001), which is broadcast back out;
    per-user estimates are then computed EXECUTOR-side inside an
    Arrow-batched ``mapInPandas`` — the sketch bytes deserialize once
    per partition and a whole key column is probed per batch with
    vectorized int64 arithmetic (operators/sketches.py reimplements
    ``CountMinSketchImpl``'s long-hash read path bit-for-bit; parity
    with the JVM ``estimateCount`` is pinned in
    tests/test_operators.py::test_cms_python_probe_matches_jvm).
    No O(#distinct users) collect anywhere — the exact-count side
    stays a distributed groupBy joined against nothing.

    The sketch layout is Spark-specific, so the hashed contract is
    the CMS error-bound boolean per user (see _SKETCH_CMS_ORACLE);
    the estimate-error bound is also asserted in
    ``tests/test_operators.py``."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").alias("sk")
    ).head()["sk"]
    bc = spark.sparkContext.broadcast(bytes(sk))

    def probe(batches):
        from delta_lake_play_spark.operators.sketches import CountMinSketchView

        view = CountMinSketchView.from_bytes(bc.value)  # once per partition
        for pdf in batches:
            pdf["est_count"] = view.estimate_longs(
                pdf["user_id"].to_numpy(dtype="int64")
            )
            yield pdf

    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    probed = exact.mapInPandas(
        probe, "user_id bigint, exact_count bigint, est_count bigint"
    )
    # ε·N slack: N via a broadcast 1-row aggregate (no driver action)
    n_total = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return probed.crossJoin(F.broadcast(n_total)).select(
        "user_id",
        "exact_count",
        (
            (F.col("est_count") >= F.col("exact_count"))
            & (
                F.col("est_count")
                <= F.col("exact_count") + F.ceil(F.col("n_total") * 0.001)
            )
        ).alias("within_bound"),
    )


# --- agg_regression_exact: deterministic OLS ------------------------------

# regr_slope/regr_intercept accumulate doubles in scan order, so their
# results are partition-order-dependent and never hash-comparable.
# Instead the five sufficient statistics (n, Sx, Sy, Sxy, Sxx) are
# EXACT integer sums on the cent/unit grid, and the OLS closed form is
# evaluated in one fixed expression-tree over them — every double op
# happens in the same order on both engines.

_REGR_ORACLE = """
SELECT l_returnflag,
       n,
       CAST((sxy*1.0/n - (sx*1.0/n)*(sy*1.0/n))
            / (sxx*1.0/n - (sx*1.0/n)*(sx*1.0/n)) AS DOUBLE) AS slope,
       CAST((sy*1.0/n)
            - ((sxy*1.0/n - (sx*1.0/n)*(sy*1.0/n))
               / (sxx*1.0/n - (sx*1.0/n)*(sx*1.0/n))) * (sx*1.0/n)
            AS DOUBLE) AS intercept
FROM (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS sx,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
         SUM(CAST(l_quantity AS BIGINT)
             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx
  FROM lineitem GROUP BY l_returnflag
) s
"""


@register("agg_regression_exact", oracle=_REGR_ORACLE)
def agg_regression_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag OLS of price-cents on quantity via exact integer
    sufficient statistics — the deterministic form of
    ``regr_slope``/``regr_intercept`` (whose double accumulators are
    partition-order-dependent). One map-side-combined aggregate; the
    closed form is a handful of scalar ops on the k grouped rows."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    xbar = sx * 1.0 / n
    ybar = sy * 1.0 / n
    slope = (sxy * 1.0 / n - xbar * ybar) / (sxx * 1.0 / n - xbar * xbar)
    return s.select(
        "l_returnflag",
        "n",
        slope.cast("double").alias("slope"),
        (ybar - slope * xbar).cast("double").alias("intercept"),
    )


# --- agg_sketch_quantile: mergeable histogram quantile ---------------------

# Equi-width-histogram quantile estimation — the mergeable,
# one-pass-per-stage alternative to an exact percentile's global
# sort: per-partition bucket counts merge by addition (the same
# property the HLL and CMS keys demonstrate), and the estimate
# interpolates inside the bucket that crosses the target rank.
# Error is bounded by one bucket width; with 128 buckets that is
# (max-min)/128. Every step is order-independent (min/max/count) or
# a fixed-shape IEEE expression, so unlike a t-digest the estimate
# is bit-deterministic and the whole chain oracle-pairs.

_QSKETCH_BUCKETS = 128
_QSKETCH_QS = (0.25, 0.5, 0.75, 0.95, 0.99)

_QSKETCH_ORACLE = f"""
WITH mm AS (
  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
         COUNT(*) AS n_total
  FROM orders
), hist AS (
  SELECT LEAST({_QSKETCH_BUCKETS - 1},
               CAST(FLOOR((o_totalprice - mn) /
                          ((mx - mn) / {_QSKETCH_BUCKETS})) AS INT))
           AS bucket,
         COUNT(*) AS n
  FROM orders, mm
  GROUP BY bucket
), cum AS (
  SELECT bucket, n,
         SUM(n) OVER (ORDER BY bucket) AS cum,
         SUM(n) OVER (ORDER BY bucket) - n AS cum_prev
  FROM hist
)
SELECT q,
       CAST(mn + ((mx - mn) / {_QSKETCH_BUCKETS}) *
            (bucket + (q * n_total - cum_prev) / n) AS DOUBLE) AS est
FROM (SELECT UNNEST([{", ".join(str(q) for q in _QSKETCH_QS)}]) AS q) qs,
     cum, mm
WHERE cum_prev < q * n_total AND q * n_total <= cum
"""


@register("agg_sketch_quantile", oracle=_QSKETCH_ORACLE)
def agg_sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles of o_totalprice at five target
    ranks. Plan: one min/max/count aggregate (broadcast as a 1-row
    dim), one map-side-combined bucket-count aggregate, a 128-row
    window for the cumulative, and a 5x128 bounded join to pick the
    crossing bucket. Nothing global ever sorts; at 100 TB both
    aggregates are single streaming passes and everything after them
    is dimension-sized."""
    o = load_table(spark, sf_dir, "orders")
    mm = o.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count("*").alias("n_total"),
    )
    width = (F.col("mx") - F.col("mn")) / _QSKETCH_BUCKETS
    bucket = F.least(
        F.lit(_QSKETCH_BUCKETS - 1),
        F.floor((F.col("o_totalprice") - F.col("mn")) / width).cast("int"),
    )
    hist = (
        o.join(F.broadcast(mm))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "n",
        F.sum("n").over(w).alias("cum"),
        (F.sum("n").over(w) - F.col("n")).alias("cum_prev"),
    )
    qs = local_df(spark, [(q,) for q in _QSKETCH_QS], "q double")
    target = F.col("q") * F.col("n_total")
    est = F.col("mn") + width * (
        F.col("bucket") + (target - F.col("cum_prev")) / F.col("n")
    )
    return (
        qs.crossJoin(F.broadcast(cum))
        .crossJoin(F.broadcast(mm))
        .where((F.col("cum_prev") < target) & (target <= F.col("cum")))
        .select("q", est.cast("double").alias("est"))
    )


# --- agg_approx_top_k -------------------------------------------------------

# Spark 4's approx_top_k is a space-saving-family heavy-hitters
# sketch: bounded state (maxItemsTracked counters), mergeable
# partials, the standard scale substitute for a full groupBy+sort
# when only the head matters. Run here in its EXACTLY-verifiable
# configuration — k and the tracked capacity exceed the column's
# universe, where the sketch degenerates to complete exact counts
# (no tie-order nondeterminism can leak into the hash). Production
# uses k ≪ NDV, where the driver check would be rows-only; the
# error-free regime is what a cross-engine hash can pin.

_APPROX_TOPK_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type
"""


@register("agg_approx_top_k", oracle=_APPROX_TOPK_ORACLE)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters of event_type via the approx_top_k sketch with
    capacity above the universe — exact counts, hash-checkable."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_ev_topk")
    return spark.sql(
        """
        SELECT t.item AS event_type, t.count AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 64, 4096)) AS t
              FROM _ev_topk)
        """
    )


# --- agg_listagg -------------------------------------------------------------

# Spark 4's native listagg — ANSI WITHIN GROUP ordered string
# concatenation (agg_string_agg is the pre-4.0 sort-then-join
# emulation; this is the engine primitive that replaces it). Ordered
# by the value itself so the result is deterministic at any
# parallelism.

_LISTAGG_ORACLE = """
SELECT n_regionkey,
       string_agg(n_name, '|' ORDER BY n_name) AS nations
FROM nation GROUP BY n_regionkey
"""


@register("agg_listagg", oracle=_LISTAGG_ORACLE)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations per region as one ordered delimited string via native
    listagg WITHIN GROUP."""
    n = load_table(spark, sf_dir, "nation")
    n.createOrReplaceTempView("_nation_la")
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM _nation_la GROUP BY n_regionkey
        """
    )


# --- agg_higher_moments: exact skewness / kurtosis -------------------------
# Third and fourth standardized moments from exact integer power sums
# on the 2-dp value grid — the order-independence pattern of
# agg_stddev_exact extended to x³/x⁴. The built-ins are out: Spark's
# skewness/kurtosis use a partition-order-dependent float update, and
# DuckDB's apply sample-bias corrections Spark does not, so neither
# pair hash-matches across engines.
#
# Overflow discipline: Σx³ and Σx⁴ exceed int64 long before 100 TB,
# and the obvious escape hatch — DECIMAL(38,0) sums — hash-diverges,
# because DuckDB's DECIMAL→DOUBLE cast is not correctly rounded above
# 2⁶³ (measured here: 31293724858271074718 casts to ...312e16 in
# DuckDB vs the true nearest double ...314e16 from Spark/Python). So
# each power is split per-row into legs that stay exact in int64:
# with B = 10⁵ and a = c² div B, b = c² mod B (c² ≥ 0, so div/mod
# agree across engines),
#   x³ = (a·c)·B + (b·c)      x⁴ = a²·B² + (2ab)·B + b²
# and each leg sum is < 2⁶³ up to ~sf1000 for |c| ≤ 5·10⁴ cents.
# BIGINT→DOUBLE is correctly rounded in both engines, and the
# recombination runs in DOUBLE with a token-for-token mirrored
# expression tree (sqrt, not pow — libm pow may differ in the last
# ulp), so the finished statistics are bit-identical. Skewness and
# kurtosis are scale-invariant: the cent grid needs no descaling.
# Scale shape: one partial+final HashAggregate; shuffle volume is
# #event_types, not #rows.

_MOMENTS_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c,
         CAST(round(value * 100) AS BIGINT)
           * CAST(round(value * 100) AS BIGINT) AS c2
  FROM events WHERE value IS NOT NULL
),
l AS (
  SELECT event_type, c, c2, c2 // 100000 AS a, c2 % 100000 AS b FROM g
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sx,
         CAST(SUM(c2) AS BIGINT) AS sxx,
         CAST(SUM(a * c) AS BIGINT) AS sac,
         CAST(SUM(b * c) AS BIGINT) AS sbc,
         CAST(SUM(a * a) AS BIGINT) AS saa,
         CAST(SUM(a * b) AS BIGINT) AS sab,
         CAST(SUM(b * b) AS BIGINT) AS sbb
  FROM l GROUP BY event_type
)
SELECT event_type, n,
       CAST(sx AS DOUBLE) / n / 100.0 AS mean_value,
       ((CAST(sac AS DOUBLE) * 100000.0 + CAST(sbc AS DOUBLE)) / n
        - 3.0 * (CAST(sx AS DOUBLE) / n) * (CAST(sxx AS DOUBLE) / n)
        + 2.0 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
              * (CAST(sx AS DOUBLE) / n))
       / (((CAST(sxx AS DOUBLE) / n)
           - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
          * sqrt((CAST(sxx AS DOUBLE) / n)
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)))
       AS skewness,
       ((CAST(saa AS DOUBLE) * 10000000000.0
         + 2.0 * CAST(sab AS DOUBLE) * 100000.0
         + CAST(sbb AS DOUBLE)) / n
        - 4.0 * (CAST(sx AS DOUBLE) / n)
              * ((CAST(sac AS DOUBLE) * 100000.0 + CAST(sbc AS DOUBLE)) / n)
        + 6.0 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
              * (CAST(sxx AS DOUBLE) / n)
        - 3.0 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
              * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
       / (((CAST(sxx AS DOUBLE) / n)
           - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
          * ((CAST(sxx AS DOUBLE) / n)
             - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)))
       - 3.0 AS kurtosis_excess
FROM s
"""


@register("agg_higher_moments", oracle=_MOMENTS_ORACLE)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per event_type from
    exact integer power sums (leg-split against int64 overflow and
    non-correctly-rounded wide casts; see the comment above the
    oracle)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100, 0).cast("long")
    legs = ev.select(
        "event_type", c.alias("c"), (c * c).alias("c2")
    ).select(
        "event_type",
        "c",
        "c2",
        F.expr("c2 div 100000").alias("a"),
        (F.col("c2") % 100000).alias("b"),
    )
    agg = legs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum("c2").alias("sxx"),
        F.sum(F.col("a") * F.col("c")).alias("sac"),
        F.sum(F.col("b") * F.col("c")).alias("sbc"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    n = F.col("n")
    # Raw moments written as leg recombinations over n, with the same
    # left-associated token order as the oracle — the only way DOUBLE
    # results hash-match.
    mu = F.col("sx").cast("double") / n
    r2 = F.col("sxx").cast("double") / n
    r3 = (
        F.col("sac").cast("double") * F.lit(100000.0)
        + F.col("sbc").cast("double")
    ) / n
    r4 = (
        F.col("saa").cast("double") * F.lit(10000000000.0)
        + F.lit(2.0) * F.col("sab").cast("double") * F.lit(100000.0)
        + F.col("sbb").cast("double")
    ) / n
    m2 = r2 - mu * mu
    skew = (r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu) / (
        m2 * F.sqrt(m2)
    )
    kurt = (
        r4
        - F.lit(4.0) * mu * r3
        + F.lit(6.0) * mu * mu * r2
        - F.lit(3.0) * mu * mu * mu * mu
    ) / (m2 * m2) - F.lit(3.0)
    return agg.select(
        "event_type",
        "n",
        (mu / F.lit(100.0)).alias("mean_value"),
        skew.alias("skewness"),
        kurt.alias("kurtosis_excess"),
    )


# --- agg_weighted_median ----------------------------------------------------
# Exact weighted median per group: smallest price whose cumulative
# weight reaches half the group total, weights = l_quantity (the
# fixture's integral-quantity contract makes the BIGINT cast exact).
# Two-phase shape: weights first collapse per (group, price) — the
# partial aggregate does the heavy lifting and the window then runs
# over DISTINCT prices only, not raw rows — then one cumulative-sum
# window per group and an integer 2·cum ≥ total threshold (no
# division, no float compare). The per-group window partitions by
# l_returnflag, so no global sort anywhere.

_WMEDIAN_ORACLE = """
WITH g AS (
  SELECT l_returnflag, l_extendedprice,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  GROUP BY l_returnflag, l_extendedprice
),
c AS (
  SELECT l_returnflag, l_extendedprice, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM g
)
SELECT l_returnflag,
       MIN(l_extendedprice) AS weighted_median,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM c
WHERE 2 * cw >= tw
GROUP BY l_returnflag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted exact median extended price per return flag
    (integer threshold, distinct-price window)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("w")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return (
        c.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.max("tw").alias("total_weight"),
        )
    )


# --- agg_sketch_setops ------------------------------------------------------
# Sketch ALGEBRA: distinct-count set operations without re-touching
# the data. Year-over-year repeat-buyer analysis — |buyers(1995)|,
# |buyers(1996)|, their union and intersection — from TWO fixed-size
# HLL sketches: the union is a native sketch merge, the intersection
# comes from inclusion–exclusion (est_a + est_b − est_union). At
# 100 TB each yearly sketch is built once in that year's partition
# scan and every pairwise/rolling overlap question afterwards is a
# KB-sized sketch computation — the pattern behind cross-snapshot
# audience-overlap and dedup-rate dashboards. The oracle supplies
# the exact counts and TRUE for the two error-bound contracts
# (union: direct HLL bound; intersection: the three-term
# inclusion–exclusion compounds to a bound scaled by the UNION
# size — ±5% + 3 covers ≥3σ of lgConfigK=12's 1.6% rsd per term).

_SKETCH_SETOPS_ORACLE = """
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
            AS BIGINT) AS exact_union,
       CAST((SELECT COUNT(*) FROM a JOIN b USING (o_custkey)) AS BIGINT)
         AS exact_inter,
       TRUE AS union_within_eps,
       TRUE AS inter_within_eps
"""


@register("agg_sketch_setops", oracle=_SKETCH_SETOPS_ORACLE)
def agg_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-buyer overlap from two HLL sketches: native union
    merge + inclusion–exclusion intersection, error-bound-checked
    against the exact counts."""
    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    sk = o.agg(
        F.hll_sketch_agg(F.when(yr == 1995, F.col("o_custkey"))).alias("sk_a"),
        F.hll_sketch_agg(F.when(yr == 1996, F.col("o_custkey"))).alias("sk_b"),
        F.count_distinct(F.when(yr == 1995, F.col("o_custkey"))).alias("exact_a"),
        F.count_distinct(F.when(yr == 1996, F.col("o_custkey"))).alias("exact_b"),
        F.count_distinct(
            F.when(yr.isin(1995, 1996), F.col("o_custkey"))
        ).alias("exact_union"),
    )
    est = sk.select(
        "exact_a",
        "exact_b",
        "exact_union",
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_union"),
    )
    exact_inter = (F.col("exact_a") + F.col("exact_b") - F.col("exact_union")).alias(
        "exact_inter"
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return est.select(
        "exact_a",
        "exact_b",
        "exact_union",
        exact_inter,
        (
            F.abs(F.col("est_union") - F.col("exact_union"))
            <= F.col("exact_union") * 0.05 + F.lit(2)
        ).alias("union_within_eps"),
        (
            F.abs(est_inter - exact_inter)
            <= F.col("exact_union") * 0.05 + F.lit(3)
        ).alias("inter_within_eps"),
    )
