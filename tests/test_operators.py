"""Operator-library unit tests: semantics the oracle queries can't
exercise (NULL payloads, refused join types, statistical identities).
"""

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.operators.asof import asof_join
from delta_lake_play_spark.operators.salted_join import salted_join


def test_asof_preserves_matched_rows_null_value(spark):
    """A matched right row whose value column is genuinely NULL must
    yield NULL — not leak an older row's value forward."""
    left = spark.createDataFrame(
        [("u1", 10, 100), ("u1", 20, 101)], "k string, ts int, lid int"
    )
    right = spark.createDataFrame(
        [("u1", 5, 200, 1.5), ("u1", 15, 201, None)],
        "k string, ts int, lid int, v double",
    )
    out = asof_join(
        left, right, on=["k"], ts="ts", right_values=["v"], tiebreak="lid"
    )
    got = {r["lid"]: r["asof_v"] for r in out.collect()}
    assert got[100] == 1.5  # latest right row at ts<=10 carries 1.5
    assert got[101] is None  # latest right row at ts<=20 has v = NULL


def test_asof_no_right_row_yet(spark):
    left = spark.createDataFrame([("u1", 1, 100)], "k string, ts int, lid int")
    right = spark.createDataFrame(
        [("u1", 5, 200, 9.0)], "k string, ts int, lid int, v double"
    )
    out = asof_join(
        left, right, on=["k"], ts="ts", right_values=["v"], tiebreak="lid"
    )
    assert out.collect()[0]["asof_v"] is None


def test_salted_join_refuses_right_and_full_outer(spark):
    df = spark.createDataFrame([(1, "a")], "id int, x string")
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, df, key="id", salt_cols="x", how=how)


def test_salted_left_join_keeps_unmatched_left_once(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (3, 13)], "id int, lval int"
    )
    right = spark.createDataFrame([(1, "a"), (2, "b")], "id int, rval string")
    got = salted_join(left, right, key="id", salt_cols="lval", how="left")
    plain = left.join(right, on="id", how="left")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


def test_exact_stddev_matches_builtin(spark, sf_dir):
    """agg_stddev_exact's integer-grid formula must agree with
    F.stddev_samp (ADVICE r1: the denominator was n²(n−1))."""
    from delta_lake_play_spark.queries.aggregates import agg_stddev_exact

    got = {
        r["event_type"]: r["stddev_value"]
        for r in agg_stddev_exact(spark, sf_dir).collect()
    }
    ref = {
        r["event_type"]: r["sd"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.stddev_samp(F.round(F.col("value"), 2)).alias("sd"))
        .collect()
    }
    for et, sd in ref.items():
        assert got[et] == pytest.approx(sd, rel=1e-9), et


def test_connected_components_chain_and_singleton(spark):
    """A 4-node chain needs multiple propagation rounds (diameter 3);
    singletons keep their own label."""
    from delta_lake_play_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2)], "a long, b long"  # chain 1-2-3-4
    )
    want = {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5}
    # driver union-find path (edges fit) and distributed loop path
    got = {r["node"]: r["cluster"] for r in connected_components(nodes, pairs).collect()}
    assert got == want
    got_dist = {
        r["node"]: r["cluster"]
        for r in connected_components(nodes, pairs, driver_threshold=0).collect()
    }
    assert got_dist == want


def test_hll_estimate_error_bound(spark, sf_dir):
    """HLL estimates must land within 2% of exact per segment and for
    the sketch-merged rollup (custkeys are unique across segments, so
    the exact rollup is the sum)."""
    from delta_lake_play_spark.registry import all_queries

    rows = all_queries()["agg_sketch_hll"](spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["exact_distinct"] > 0
        # the hashed contract is the looser 5%+2 boolean
        # (_SKETCH_HLL_ORACLE); the estimate itself is checked below
        assert r["within_eps"], r
    # direct ±2% estimate-vs-exact assertion (the docstring's claim):
    # recompute the same per-segment sketch estimates the key folds
    # into its boolean and hold them to the tighter bound
    from pyspark.sql import functions as F

    from delta_lake_play_spark.sources.catalog import load_table

    est = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey")).alias("est"),
            F.count_distinct("c_custkey").alias("exact"),
        )
        .collect()
    )
    for r in est:
        assert abs(r["est"] - r["exact"]) / r["exact"] < 0.02, r


def test_null_split_left_join_matches_plain_join(spark):
    """The split must be invisible: same rows as a plain LEFT join,
    including right rows carrying NULL payload values and duplicate
    right keys (which fan out in both forms)."""
    from delta_lake_play_spark.operators.salted_join import null_split_left_join

    left = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None), (5, 10)],
        "lid int, k int",
    )
    right = spark.createDataFrame(
        [(10, "a"), (10, "b"), (30, None)], "rk int, v string"
    )
    got = null_split_left_join(left, right, "k", "rk")
    plain = left.join(right, left["k"] == right["rk"], "left")
    canon = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select("lid", "k", "rk", "v").collect()
    )
    assert canon(got) == canon(plain)
    assert len(canon(got)) == 7  # lid 1 and 5 fan out to 2 rows each; 2 and 4 pass through


def test_dsum_exact_and_order_independent(spark):
    """dsum must equal the exact decimal sum (computed in integer
    cents) for any 2-dp grid values, under ANY partitioning — the
    property the whole oracle-parity scheme rests on."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from delta_lake_play_spark.functions.exact import dsum

    cents = st.integers(min_value=-10_000_000, max_value=10_000_000)

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(cents, min_size=1, max_size=60), st.integers(1, 16))
    def check(cent_values, n_parts):
        rows = [(c / 100.0,) for c in cent_values]
        df = spark.createDataFrame(rows, "v double").repartition(n_parts)
        got = df.agg(dsum("v").alias("s")).collect()[0]["s"]
        assert got == sum(cent_values) / 100.0

    check()


def test_near_dup_operators_broadcast_hints_off_parity(spark, sf_dir):
    """broadcast_hints=False must change only the physical plan (no
    forced broadcast of the corpus-derived tables), never the pairs."""
    from delta_lake_play_spark.operators.dedup import (
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
    )
    from delta_lake_play_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        "doc_id < 120"
    ).select("doc_id", "text")

    for fn, kw in (
        (minhash_near_dup_pairs, {"threshold": 0.8}),
        (simhash_near_dup_pairs, {"max_hamming": 3}),
    ):
        with_hints = fn(docs, "doc_id", "text", broadcast_hints=True, **kw)
        without = fn(docs, "doc_id", "text", broadcast_hints=False, **kw)
        canon = lambda df: sorted(  # noqa: E731
            (r["doc_a"], r["doc_b"]) for r in df.collect()
        )
        assert canon(with_hints) == canon(without)


def test_blocked_pairs_hint_off_same_pairs(spark, sf_dir):
    """broadcast_hints=False must degrade blocked_pairs to a plain
    shuffled block join — NO BroadcastExchange in the plan — and emit
    the identical pair set. (F.broadcast is a hard hint: past the 8 GB
    broadcast-relation limit a hinted job FAILS rather than degrades,
    so oversized corpora need this flag.)"""
    from delta_lake_play_spark.operators.similarity import blocked_pairs
    from delta_lake_play_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").where("vec_id < 150")
    hinted = blocked_pairs(e, "vec_id", "embedding", "label", 0.3)
    # Disable the planner's size-based auto-broadcast (which degrades
    # correctly at scale) so any BroadcastExchange left in the plan
    # can only come from a hard F.broadcast hint.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = blocked_pairs(
            e, "vec_id", "embedding", "label", 0.3, broadcast_hints=False
        )
        plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, (
            "hint-off blocked_pairs still broadcasts:\n" + plan
        )
        hinted_plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in hinted_plan
        canon = lambda df: sorted(  # noqa: E731
            (r["__a"], r["__b"]) for r in df.collect()
        )
        pairs = canon(hinted)
        assert pairs == canon(plain) and len(pairs) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_broadcast_hints_auto_flip_past_size_threshold(spark, sf_dir, monkeypatch):
    """VERDICT r11 ask #5: the default broadcast_hints=None resolves
    from the input's catalyst size estimate — small corpus keeps the
    broadcast plan, a corpus estimated past _AUTO_BROADCAST_MAX_BYTES
    flips every hinted join to its shuffle form AUTOMATICALLY (no
    caller flag), with the identical pair set."""
    from delta_lake_play_spark.operators import dedup as dd
    from delta_lake_play_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        "doc_id < 120"
    ).select("doc_id", "text")

    auto_small = dd.minhash_near_dup_pairs(docs, "doc_id", "text", 0.8)
    plan_small = auto_small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_small  # small corpus: hints on

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # shrink the threshold below any real input: the SAME call,
        # no flag, must now plan shuffle joins end to end
        monkeypatch.setattr(dd, "_AUTO_BROADCAST_MAX_BYTES", 1)
        auto_big = dd.minhash_near_dup_pairs(docs, "doc_id", "text", 0.8)
        plan_big = auto_big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan_big, (
            "auto-resolved hints still broadcast past the size "
            "threshold:\n" + plan_big
        )
        canon = lambda df: sorted(  # noqa: E731
            (r["doc_a"], r["doc_b"]) for r in df.collect()
        )
        pairs = canon(auto_small)
        assert pairs == canon(auto_big) and len(pairs) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_resolve_hints_fallback_logs_warning(caplog):
    """A DataFrame whose plan-stats call raises (a non-classic,
    Connect-style frame) keeps the broadcast default and says so
    through the package logger instead of failing silently."""
    from py4j.protocol import Py4JError

    from delta_lake_play_spark.operators import dedup as dd

    class _Plan:
        def optimizedPlan(self):
            raise Py4JError("no plan stats")

    class _Jdf:
        def queryExecution(self):
            return _Plan()

    class _Frame:
        _jdf = _Jdf()

    dd._log_hints_fallback.cache_clear()
    with caplog.at_level("WARNING", logger="spark_graft"):
        assert dd._resolve_hints(_Frame(), None) is True
        assert dd._resolve_hints(object(), None) is True  # AttributeError
        assert dd._resolve_hints(_Frame(), None) is True
    warned = [r for r in caplog.records if r.name == "spark_graft"]
    assert [r.levelname for r in warned] == ["WARNING", "WARNING"]
    assert "Py4JError" in warned[0].getMessage()
    assert "AttributeError" in warned[1].getMessage()


def test_cms_python_probe_matches_jvm(spark):
    """The numpy read-path in operators/sketches.py must reproduce
    ``CountMinSketchImpl.estimateCount`` bit-for-bit — same wire
    parse, same long-hash, same min-reduce — including negative and
    never-seen keys."""
    import numpy as np
    from pyspark.sql import functions as F

    from delta_lake_play_spark.operators.sketches import CountMinSketchView

    df = spark.createDataFrame(
        [(i % 17,) for i in range(1000)]
        + [(12345678901,)] * 5
        + [(-42,)] * 3,
        "user_id bigint",
    )
    raw = bytes(
        df.agg(
            F.expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").alias("s")
        ).head()["s"]
    )
    view = CountMinSketchView.from_bytes(raw)
    assert view.total_count == 1008
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(raw)
    keys = list(range(17)) + [12345678901, -42, 999999, -(2**62)]
    ours = view.estimate_longs(np.array(keys, dtype=np.int64))
    theirs = [int(jcms.estimateCount(k)) for k in keys]
    assert list(map(int, ours)) == theirs


def test_cms_estimates_bounded_overcount(spark, sf_dir):
    """Count-min sketches only OVERcount: est >= exact always, and
    with eps=0.001 the overshoot stays within eps*N (plus nothing —
    the 0.99 confidence held on every key at this scale)."""
    from delta_lake_play_spark.registry import all_queries

    rows = all_queries()["agg_sketch_cms"](spark, sf_dir).collect()
    assert len(rows) >= 10
    for r in rows:
        # est >= exact and est <= exact + ceil(eps*N) both fold into
        # the hashed within_bound boolean (see _SKETCH_CMS_ORACLE)
        assert r["within_bound"], r


def test_quantile_sketch_within_one_bucket_width(spark, sf_dir):
    """Histogram-quantile estimates land within one bucket width of
    the exact percentile (the sketch's error bound)."""
    from pyspark.sql import functions as F

    from delta_lake_play_spark.queries.aggregates import _QSKETCH_BUCKETS
    from delta_lake_play_spark.registry import all_queries
    from delta_lake_play_spark.sources.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    mn, mx = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    width = (mx - mn) / _QSKETCH_BUCKETS
    ests = {
        r["q"]: r["est"]
        for r in all_queries()["agg_sketch_quantile"](spark, sf_dir).collect()
    }
    exact = o.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q})").alias(str(q))
            for q in ests
        ]
    ).first()
    assert len(ests) == 5
    for q, est in ests.items():
        assert abs(est - exact[str(q)]) <= width, (q, est, exact[str(q)])


def test_incremental_minhash_two_batches_match_one_shot(spark, sf_dir):
    """The defining property of the incremental path: signing the
    corpus in two successive batches against an advancing store
    yields exactly the pair set a single corpus-wide batch yields —
    so a continuously-ingesting pipeline loses nothing vs periodic
    full recompute."""
    from delta_lake_play_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signature_table,
    )
    from delta_lake_play_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 4 == 0)
    b1 = d.filter(F.col("doc_id") % 4 == 1)
    b2 = d.filter((F.col("doc_id") % 4 == 2) | (F.col("doc_id") % 4 == 3))

    def undirected(pairs_df):
        # pair orientation depends on which batch a doc arrived in
        # (store matches keep the probe as new_doc); dedup semantics
        # only care about the unordered pair.
        return {
            frozenset(r)
            for r in pairs_df.select("new_doc", "matched_doc").collect()
        }

    store = minhash_signature_table(base, "doc_id", "text").localCheckpoint()
    p1, s1 = incremental_minhash_dedup(store, b1, "doc_id", "text", 0.7)
    got = undirected(p1)
    store = store.unionByName(s1).localCheckpoint()
    p2, _ = incremental_minhash_dedup(store, b2, "doc_id", "text", 0.7)
    got |= undirected(p2)

    one_store = minhash_signature_table(base, "doc_id", "text")
    one_new = d.filter(F.col("doc_id") % 4 != 0)
    p_all, _ = incremental_minhash_dedup(one_store, one_new, "doc_id", "text", 0.7)
    want = undirected(p_all)

    assert got == want
    assert len(want) > 0  # fixture has near-dup families; non-vacuous


def test_token_budget_mix_invariants(spark, sf_dir):
    """Largest-remainder allocation: the integer per-source budgets
    sum EXACTLY to B = total_tokens div 5, and every source's kept
    token total fits its budget with no doc split across the line."""
    from delta_lake_play_spark.queries.filters import (
        _BUDGET_DIVISOR,
        sample_token_budget_mix,
    )
    from delta_lake_play_spark.sources.catalog import load_table

    out = sample_token_budget_mix(spark, sf_dir).toPandas()
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    total = d.select(
        F.sum(F.size(F.split("text", " ")).cast("bigint"))
    ).first()[0]
    assert out["budget_tokens"].sum() == total // _BUDGET_DIVISOR
    assert (out["kept_tokens"] <= out["budget_tokens"]).all()
    assert (out["kept_docs"] > 0).any()  # non-vacuous


def test_connected_components_known_graph(spark):
    """CC on a hand-built graph: chain 1-2-3, pair 10-11, isolate 99
    -> components {1,2,3}, {10,11}, {99} labeled by their minimum."""
    from delta_lake_play_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(n,) for n in (1, 2, 3, 10, 11, 99)], "node long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    got = {
        (r.node, r.cluster)
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (99, 99)}


def test_triangle_wedge_join_counts_k4(spark, sf_dir):
    """The wedge-join pipeline on K4 embedded via a synthetic events
    frame is exercised end-to-end by the registered key; here the
    edge builder itself: K4 (4 users, one bucket, cap >= 4) yields
    C(4,2)=6 edges."""
    from delta_lake_play_spark.queries.graphs import cooccurrence_edges

    rows = [(i, "2024-01-01 00:00:00", u, "click") for i, u in enumerate([1, 2, 3, 4])]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    edges = cooccurrence_edges(ev).collect()
    assert {(r.u, r.v) for r in edges} == {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)
    }


def test_interpolation_closed_form(spark):
    """A 3-observation series with a 3-hour gap interpolates on the
    straight line between the bracketing points."""
    from delta_lake_play_spark.queries import windows as W

    rows = [
        (1, "2024-01-01 00:00:00", 0.0),
        (2, "2024-01-01 04:00:00", 8.0),
        (3, "2024-01-01 06:00:00", 5.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, value double")
    ev = ev.withColumn("ts", F.to_timestamp("ts")).withColumn(
        "user_id", F.lit(7).cast("long")
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            (r.hr.hour, round(r.v_interp, 6), r.is_interpolated)
            for r in W.win_interpolate_linear(spark, d).collect()
        }
    assert out == {
        (0, 0.0, False),
        (1, 2.0, True),
        (2, 4.0, True),
        (3, 6.0, True),
        (4, 8.0, False),
        (5, 6.5, True),
        (6, 5.0, False),
    }


def test_ohlc_closed_form(spark):
    """One bucket with out-of-order event ids: open/close follow
    event TIME (event_id only tiebreaks), high/low/volume exact."""
    from delta_lake_play_spark.queries import windows as W

    rows = [
        (10, "2024-01-01 00:59:00", 2.0),   # last by ts -> close
        (11, "2024-01-01 00:01:00", 7.0),   # first by ts -> open
        (12, "2024-01-01 00:30:00", 1.0),   # low
        (13, "2024-01-01 00:45:00", 9.0),   # high
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, value double")
    ev = ev.withColumn("ts", F.to_timestamp("ts")).withColumn(
        "user_id", F.lit(3).cast("long")
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        [r] = W.win_resample_ohlc(spark, d).collect()
    assert (r.open, r.high, r.low, r.close, r.n_obs, r.volume) == (
        7.0, 9.0, 1.0, 2.0, 4, 19.0
    )


def test_ewma_closed_form(spark):
    """alpha=0.25 recursion from a zero seed: e1=.25*4=1,
    e2=.75*1+.25*8=2.75, e3=.75*2.75+.25*16=6.0625."""
    from delta_lake_play_spark.queries import windows as W

    rows = [
        (1, "2024-01-01 00:00:00", 4.0),
        (2, "2024-01-01 01:00:00", 8.0),
        (3, "2024-01-01 02:00:00", 16.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, value double")
    ev = ev.withColumn("ts", F.to_timestamp("ts")).withColumn(
        "user_id", F.lit(1).cast("long")
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r.hr.hour: r.ewma for r in W.win_ewma(spark, d).collect()
        }
    assert got == {0: 1.0, 1: 2.75, 2: 6.0625}


def test_zscore_closed_form(spark):
    """n=1 rows and zero-variance frames yield NULL scores; a genuine
    outlier against a constant prefix is flagged."""
    from delta_lake_play_spark.queries import windows as W

    vals = [5.0, 5.0, 5.0, 5.0, 50.0]
    rows = [
        (i, f"2024-01-01 {i:02d}:00:00", v) for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, value double")
    ev = ev.withColumn("ts", F.to_timestamp("ts")).withColumn(
        "user_id", F.lit(1).cast("long")
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = sorted(
            W.win_anomaly_zscore(spark, d).collect(), key=lambda r: r.hr
        )
    # first row: n=1 -> NULL; rows 2-4: zero variance -> NULL
    assert [r.zscore for r in out[:4]] == [None, None, None, None]
    assert [r.is_anomaly for r in out[:4]] == [False] * 4
    last = out[-1]
    # frame = 4x5 + 50: mean 14, var = (4*81 + 36^2)/4 = 405, z = 36/sqrt(405)
    assert last.zscore == pytest.approx(36.0 / 405.0 ** 0.5)
    assert not last.is_anomaly  # z ~ 1.79 < 3


def test_parameterized_sql_binds_not_interpolates(spark, sf_dir):
    """A hostile string arg stays ONE typed literal — the classic
    OR-1=1 payload matches nothing instead of everything."""
    from delta_lake_play_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = :status",
        args={"status": "F' OR '1'='1"},
    ).collect()[0].n
    assert n == 0


def test_observe_metrics_match_direct_agg(spark, sf_dir):
    """CollectMetrics accumulates during the action; values must equal
    a separate direct aggregation."""
    from delta_lake_play_spark.queries.scans import scan_observe_metrics
    from delta_lake_play_spark.sources.catalog import load_table

    [m] = scan_observe_metrics(spark, sf_dir).collect()
    [d] = (
        load_table(spark, sf_dir, "lineitem")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.round(F.col("l_quantity") * 100, 0).cast("bigint")
            ).alias("sum_qty_cents"),
        )
        .collect()
    )
    assert (m.n_rows, m.sum_qty_cents) == (d.n_rows, d.sum_qty_cents)


def test_kcore_peels_pendants_keeps_clique(spark):
    """K4 (every degree 3) survives a 3-core peel; a separate
    2-user bucket's single edge is peeled away entirely."""
    from delta_lake_play_spark.queries import graphs as G

    rows = [
        (i, "2024-01-01 00:00:00", u, "click") for i, u in enumerate([1, 2, 3, 4])
    ] + [
        (10, "2024-01-01 05:00:00", 7, "view"),
        (11, "2024-01-01 05:00:00", 8, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r.node, r.core_degree)
            for r in G.graph_kcore(spark, d).collect()
        }
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}


def test_pyjsonl_manifest_hides_uncommitted_files(spark):
    """Readers list the _SUCCESS manifest, not the directory: a stray
    .jsonl file dropped next to the committed ones is invisible."""
    import json
    import os
    import tempfile

    from delta_lake_play_spark.sources.pyjsonl import JsonlDataSource

    spark.dataSource.register(JsonlDataSource)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = tempfile.mkdtemp(prefix="pyjsonl_t_") + "/t"
    df.write.format("pyjsonl").mode("overwrite").save(out)
    with open(os.path.join(out, "part-zzzzz-stray.jsonl"), "w") as fh:
        fh.write(json.dumps({"id": 99, "s": "ghost"}) + "\n")
    back = (
        spark.read.format("pyjsonl")
        .option("schema", "id long, s string")
        .load(out)
    )
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_pyjsonl_rejects_nested_schema(spark):
    import tempfile

    import pytest as _pytest

    from delta_lake_play_spark.sources.pyjsonl import JsonlDataSource

    spark.dataSource.register(JsonlDataSource)
    df = spark.createDataFrame([(1, [1, 2])], "id long, xs array<long>")
    out = tempfile.mkdtemp(prefix="pyjsonl_n_") + "/t"
    with _pytest.raises(Exception, match="flat"):
        df.write.format("pyjsonl").mode("overwrite").save(out)


def test_fuzzy_join_blocking_recall_contract(spark):
    """(length, last-4) blocking finds every single-char SUBSTITUTION
    before the tail, and — documented trade, operators/fuzzy.py —
    deliberately misses edits that change length or the tail."""
    from delta_lake_play_spark.operators.fuzzy import fuzzy_join_blocked

    master = spark.createDataFrame(
        [(1, "Customer#000000123"), (2, "Customer#000000456")],
        "id long, name string",
    )
    probes = spark.createDataFrame(
        [
            (10, "Customer#0000X0123"),  # substitution mid-string: found
            (11, "Customer#00000123"),   # deletion (length change): missed
            (12, "Customer#000000124"),  # tail substitution: missed by design
        ],
        "pid long, pname string",
    )
    got = {
        (r["pid"], r["id"], r["lev"])
        for r in fuzzy_join_blocked(
            probes, master, "pid", "id", "pname", "name", max_dist=1
        ).collect()
    }
    assert got == {(10, 1, 1)}


def test_incremental_flagged_matches_pairs(spark, sf_dir):
    """incremental_minhash_flagged must return exactly the distinct
    new_doc set of incremental_minhash_dedup's pairs — same store,
    same batch, same threshold — without expanding member pairs."""
    from delta_lake_play_spark.operators.dedup import (
        incremental_minhash_dedup,
        incremental_minhash_flagged,
        minhash_signature_table,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0)
    store = minhash_signature_table(old, "doc_id", "text").persist()
    try:
        pairs, sigs_a = incremental_minhash_dedup(store, new, "doc_id", "text", 0.8)
        expected = {
            r["new_doc"] for r in pairs.select("new_doc").distinct().collect()
        }
        sigs_a.unpersist()
        flagged, sigs_b = incremental_minhash_flagged(
            store, new, "doc_id", "text", 0.8
        )
        got = {r["doc_id"] for r in flagged.collect()}
        sigs_b.unpersist()
    finally:
        store.unpersist()
    assert got == expected and len(got) > 0


def test_priority_flagged_matches_pairs(spark, sf_dir):
    """priority_dedup_flagged's drop set must equal the loser set
    derived pairwise from priority_dedup_pairs' member expansion —
    same corpus, same threshold — without ever expanding pairs. Also
    pins the priority direction: at least one cross-source pair must
    exist, and its winner must be the lexicographically smaller
    source."""
    from delta_lake_play_spark.operators.dedup import (
        priority_dedup_flagged,
        priority_dedup_pairs,
    )

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source")
        .where("doc_id < 400")
    )
    pairs = priority_dedup_pairs(d, "doc_id", "text", "source", 0.8).persist()
    # null-last loser rule, mirroring the flagged form's rank struct
    a_beats = F.col("prio_a").isNotNull() & (
        F.col("prio_b").isNull() | (F.col("prio_a") < F.col("prio_b"))
    )
    b_beats = F.col("prio_b").isNotNull() & (
        F.col("prio_a").isNull() | (F.col("prio_b") < F.col("prio_a"))
    )
    loser = (
        F.when(a_beats, F.col("doc_b"))
        .when(b_beats, F.col("doc_a"))
        .otherwise(F.col("doc_b"))  # tie: lower doc_id wins
    )
    expected = {r[0] for r in pairs.select(loser).distinct().collect()}
    cross = pairs.where(F.col("prio_a") != F.col("prio_b")).count()
    pairs.unpersist()
    flagged = priority_dedup_flagged(d, "doc_id", "text", "source", 0.8)
    got = {r["doc_id"] for r in flagged.collect() if not r["kept"]}
    assert got == expected and len(got) > 0
    assert cross > 0  # the fixture exercises the cross-source rule


def test_priority_closure_matches_pairwise_closure(spark, sf_dir):
    """priority_dedup_closure must drop exactly the non-best members
    of each CONNECTED COMPONENT of the member-pair graph (union-find
    over priority_dedup_pairs' expansion, computed here brute-force),
    and its drop set must be a superset of the pairwise form's (a
    direct-neighbor beat implies a component-best beat)."""
    from delta_lake_play_spark.operators.dedup import (
        priority_dedup_closure,
        priority_dedup_flagged,
        priority_dedup_pairs,
    )

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source")
        .where("doc_id < 400")
    )
    prio = {
        r["doc_id"]: r["source"]
        for r in d.select("doc_id", "source").collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in priority_dedup_pairs(d, "doc_id", "text", "source", 0.8)
        .select("doc_a", "doc_b")
        .collect()
    ]
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for x in {n for p in pairs for n in p}:
        comps.setdefault(find(x), []).append(x)
    expected_dropped = set()
    for members in comps.values():
        members.sort(key=lambda i: (prio[i] is None, prio[i] or "", i))
        expected_dropped.update(members[1:])

    closure = priority_dedup_closure(d, "doc_id", "text", "source", 0.8)
    got_dropped = {r["doc_id"] for r in closure.collect() if not r["kept"]}
    assert got_dropped == expected_dropped and len(got_dropped) > 0
    pairwise_dropped = {
        r["doc_id"]
        for r in priority_dedup_flagged(
            d, "doc_id", "text", "source", 0.8
        ).collect()
        if not r["kept"]
    }
    assert got_dropped >= pairwise_dropped


def test_priority_flagged_cross_source_direction(spark):
    """The higher-priority (smaller) source wins regardless of doc_id:
    an identical text pair (curated id=9, web id=2) must drop the web
    doc even though its id is lower."""
    from delta_lake_play_spark.operators.dedup import priority_dedup_flagged

    df = spark.createDataFrame(
        [
            (2, "the quick brown fox jumps over the lazy dog", "web"),
            (9, "the quick brown fox jumps over the lazy dog", "curated"),
            (7, "the quick brown fox jumps over the lazy dog", None),
            (5, "completely unrelated text about spark plans", "web"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: r["kept"]
        for r in priority_dedup_flagged(
            df, "doc_id", "text", "source", 0.8
        ).collect()
    }
    # curated beats web beats NULL (unknown source sorts last)
    assert got == {2: False, 9: True, 7: False, 5: True}


def test_pq_trains_on_non_zero_based_ids(spark):
    """ADVICE r5: codebook seeding must use the k smallest ACTUAL ids,
    not `vid < ksub` — a filtered corpus whose ids start at 1000 would
    otherwise train zero centroids silently. The search must behave
    identically to the same vectors with 0-based ids."""
    import random

    from delta_lake_play_spark.operators.pq import pq_adc_topk

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(24)]
    base = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    shifted = spark.createDataFrame(
        [(i + 1000, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    kwargs = dict(n_sub=2, ksub=4, iters=2, topk=10)
    got_base = pq_adc_topk(spark, base, "vec_id", "embedding", **kwargs).collect()
    got_shift = pq_adc_topk(spark, shifted, "vec_id", "embedding", **kwargs).collect()
    assert len(got_shift) == 10
    # same geometry, same seeds → identical ranking modulo the id shift
    assert [(r["vec_id"] - 1000, r["adist"]) for r in got_shift] == [
        (r["vec_id"], r["adist"]) for r in got_base
    ]

    tiny = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs[:3])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="at least ksub"):
        pq_adc_topk(spark, tiny, "vec_id", "embedding", **kwargs)


def test_pyjsonl_failed_overwrite_keeps_old_data(spark):
    """ADVICE r5: destruction must happen at commit(), not at writer
    construction — an overwrite job that fails mid-flight leaves the
    previously committed dataset fully readable."""
    import tempfile

    import pytest as _pytest

    from delta_lake_play_spark.sources.pyjsonl import JsonlDataSource

    spark.dataSource.register(JsonlDataSource)
    ddl = "id long, s string"
    out = tempfile.mkdtemp(prefix="pyjsonl_ab_") + "/t"
    old = spark.createDataFrame([(1, "a"), (2, "b")], ddl)
    old.write.format("pyjsonl").mode("overwrite").save(out)

    @F.udf("string")
    def _boom(s):
        raise RuntimeError("task failure injected by test")

    bad = spark.createDataFrame([(9, "x")], ddl).select("id", _boom("s").alias("s"))
    with _pytest.raises(Exception, match="task failure injected"):
        bad.write.format("pyjsonl").mode("overwrite").save(out)
    back = spark.read.format("pyjsonl").option("schema", ddl).load(out)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_pyjsonl_append_merges_manifest(spark):
    """mode('append') keeps previously committed files visible: the
    new manifest is the union, not just this job's files."""
    import tempfile

    from delta_lake_play_spark.sources.pyjsonl import JsonlDataSource

    spark.dataSource.register(JsonlDataSource)
    ddl = "id long, s string"
    out = tempfile.mkdtemp(prefix="pyjsonl_ap_") + "/t"
    spark.createDataFrame([(1, "a")], ddl).write.format("pyjsonl").mode(
        "overwrite"
    ).save(out)
    spark.createDataFrame([(2, "b")], ddl).write.format("pyjsonl").mode(
        "append"
    ).save(out)
    back = spark.read.format("pyjsonl").option("schema", ddl).load(out)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_pyjsonl_corrupt_manifest_append_raises(spark):
    """ADVICE r6: a present-but-unparseable _SUCCESS must fail an
    append loudly — swallowing it would rewrite the manifest without
    the previously committed files (silent data invisibility)."""
    import os
    import tempfile

    import pytest as _pytest

    from delta_lake_play_spark.sources.pyjsonl import JsonlDataSource

    spark.dataSource.register(JsonlDataSource)
    ddl = "id long, s string"
    out = tempfile.mkdtemp(prefix="pyjsonl_cm_") + "/t"
    spark.createDataFrame([(1, "a")], ddl).write.format("pyjsonl").mode(
        "overwrite"
    ).save(out)
    with open(os.path.join(out, "_SUCCESS"), "w") as fh:
        fh.write("{not json")
    with _pytest.raises(Exception, match="corrupt pyjsonl manifest"):
        spark.createDataFrame([(2, "b")], ddl).write.format("pyjsonl").mode(
            "append"
        ).save(out)


def test_pyjsonl_overwrite_defers_superseded_deletion(spark):
    """ADVICE r6: overwrite must not delete superseded files at the
    commit point (a reader holding the old manifest would hit missing
    files mid-scan). They become timestamped tombstones — invisible
    immediately, physically removed only by a later commit once past
    the retention grace."""
    import json
    import os
    import tempfile

    from delta_lake_play_spark.sources.pyjsonl import JsonlDataSource

    spark.dataSource.register(JsonlDataSource)
    ddl = "id long, s string"
    out = tempfile.mkdtemp(prefix="pyjsonl_gc_") + "/t"
    spark.createDataFrame([(1, "a")], ddl).coalesce(1).write.format(
        "pyjsonl"
    ).mode("overwrite").save(out)
    with open(os.path.join(out, "_SUCCESS")) as fh:
        gen1 = set(json.load(fh)["files"])
    spark.createDataFrame([(2, "b")], ddl).coalesce(1).write.format(
        "pyjsonl"
    ).mode("overwrite").save(out)
    # gen-1 files: superseded (invisible) but still on disk
    with open(os.path.join(out, "_SUCCESS")) as fh:
        m2 = json.load(fh)
    assert {e["file"] for e in m2["superseded"]} == gen1
    assert all(os.path.exists(os.path.join(out, f)) for f in gen1)
    back = spark.read.format("pyjsonl").option("schema", ddl).load(out)
    assert {tuple(r) for r in back.collect()} == {(2, "b")}
    # a later commit past the grace (retention 0) physically removes them
    spark.createDataFrame([(3, "c")], ddl).coalesce(1).write.format(
        "pyjsonl"
    ).mode("overwrite").option("supersededRetentionSec", "0").save(out)
    assert not any(os.path.exists(os.path.join(out, f)) for f in gen1)


def test_fuzzy_join_short_names_engine_portable(spark):
    """ADVICE r6: names shorter than the 4-char tail window block on
    the full string (negative-start substring semantics diverge across
    engines) — parity with a brute-force levenshtein join on a short-
    name corpus."""
    from delta_lake_play_spark.operators.fuzzy import fuzzy_join_blocked

    left = spark.createDataFrame(
        [(1, "ab"), (2, "abc"), (3, "x"), (4, "abcd")], "lid long, lname string"
    )
    right = spark.createDataFrame(
        [(10, "ab"), (11, "abd"), (12, "y"), (13, "abce")],
        "rid long, rname string",
    )
    got = {
        (r["lid"], r["rid"], r["lev"])
        for r in fuzzy_join_blocked(
            left, right, "lid", "rid", "lname", "rname", max_dist=1
        ).collect()
    }
    # For names shorter than the window the tail IS the full string,
    # so only exact short matches collide (documented recall trade);
    # the point of the guard is that this is deterministic and
    # engine-portable, never substring(-4)-undefined. "abcd"/"abce"
    # is the usual tail-substitution miss.
    assert got == {(1, 10, 0)}


def test_xml_roundtrip_escapes_entities(spark, sf_dir):
    """A name containing the XML metacharacters survives the render →
    parse cycle byte-identically."""
    import os
    import tempfile

    hostile = 'A&B <Ltd> "q"'
    s = spark.createDataFrame(
        [(1, hostile, 5, 10.5)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    with tempfile.TemporaryDirectory() as d:
        s.write.parquet(os.path.join(d, "supplier.parquet"))
        from delta_lake_play_spark.queries.scalar_functions import fn_xml_parse

        [r] = fn_xml_parse(spark, d).collect()
    assert (r.s_suppkey, r.name, r.nation, r.bal) == (1, hostile, 5, 10.5)


def test_dataset_card_closed_form(spark):
    """Two sources: one with an exact duplicate pair and a NULL text,
    one clean — rates and token stats are exact."""
    import os
    import tempfile

    rows = [
        (1, "a b c", "en", "web", 5),
        (2, "a b c", "en", "web", 5),     # exact dup of doc 1
        (3, None, "de", "web", 0),        # null text
        (4, "x y", "en", "books", 3),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        d.write.parquet(os.path.join(tmp, "documents.parquet"))
        from delta_lake_play_spark.queries.llm_text import llm_dataset_card

        got = {r.source: r for r in llm_dataset_card(spark, tmp).collect()}
    web = got["web"]
    assert (web.n_docs, web.n_langs, web.total_tokens) == (3, 2, 6)
    assert web.dup_rate == pytest.approx(0.5)       # 2 texts, 1 distinct
    assert web.null_rate == pytest.approx(1 / 3)
    books = got["books"]
    assert (books.n_docs, books.total_tokens, books.dup_rate, books.null_rate) == (
        1, 2, 0.0, 0.0
    )


def test_dedup_recall_flags_subset_of_truth(spark, sf_dir):
    """The LSH-flagged set verifies with the same metric as truth, so
    hits == flagged and recall <= 1; the sf0.001 corpus has dups."""
    from delta_lake_play_spark.queries.llm_dedup import llm_dedup_recall

    [r] = llm_dedup_recall(spark, sf_dir).collect()
    assert r.n_hit == r.n_flagged <= r.n_true
    assert r.n_true > 0 and 0.0 < r.recall <= 1.0


def test_csv_failfast_raises_on_malformed(spark):
    """The FAILFAST contrast to scan_csv_corrupt_records: the same
    bad line fails the job instead of quarantining."""
    import os
    import tempfile

    out = tempfile.mkdtemp(prefix="csv_ff_")
    with open(os.path.join(out, "data.csv"), "w") as fh:
        fh.write("1,GOOD\n")
        fh.write("not_a_number,BAD\n")
    df = (
        spark.read.schema("k bigint, s string")
        .option("mode", "FAILFAST")
        .csv(out)
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        df.collect()


def test_bfs_distances_on_path_graph(spark):
    """Path 50-51-52-53 built from pairwise buckets: seed 50 labels
    hop distances 0..3."""
    from delta_lake_play_spark.queries import graphs as G

    rows = []
    eid = 0
    for h, (a, b) in enumerate([(50, 51), (51, 52), (52, 53)]):
        for u in (a, b):
            rows.append((eid, f"2024-01-01 {h:02d}:00:00", u, "click"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r.node, r.dist) for r in G.graph_bfs_distance(spark, d).collect()
        }
    assert got == {(50, 0), (51, 1), (52, 2), (53, 3)}


def test_scaled_sign_planes_ladder():
    """Integer ladder: smallest p with n <= base*2^p, capped. This is
    the contract the SQL oracle's CASE ladder mirrors — a drift here
    silently desyncs llm_dedup_embedding_cosine's blocking from its
    oracle at large corpora (driver fixtures all sit at p=0)."""
    from delta_lake_play_spark.operators.similarity import scaled_sign_planes

    assert scaled_sign_planes(1) == 0
    assert scaled_sign_planes(5000) == 0
    assert scaled_sign_planes(5001) == 1
    assert scaled_sign_planes(10000) == 1
    assert scaled_sign_planes(10001) == 2
    assert scaled_sign_planes(25000) == 3
    assert scaled_sign_planes(50000) == 4
    assert scaled_sign_planes(10**12) == 16  # cap
    assert scaled_sign_planes(300, base=100, max_planes=2) == 2


def test_blocked_pairs_composite_key(spark, sf_dir):
    """Composite block key = intersection semantics: every composite
    pair exists in the single-key set, and pairs split across
    sub-buckets are dropped. With a constant sub-bucket the pair set
    must be IDENTICAL to single-key blocking (the p=0 fixture path of
    llm_dedup_embedding_cosine)."""
    from pyspark.sql import functions as F

    from delta_lake_play_spark.operators.similarity import (
        blocked_pairs,
        hyperplane_bucket,
        lsh_planes,
    )
    from delta_lake_play_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").where("vec_id < 200")
    single = blocked_pairs(e, "vec_id", "embedding", "label", 0.3)
    canon = lambda df: sorted((r["__a"], r["__b"]) for r in df.collect())  # noqa: E731
    single_pairs = canon(single)

    const = e.withColumn("bkt", F.lit(0).cast("long"))
    same = blocked_pairs(const, "vec_id", "embedding", ["label", "bkt"], 0.3)
    assert canon(same) == single_pairs and len(single_pairs) > 0

    split = e.withColumn(
        "bkt", hyperplane_bucket("embedding", lsh_planes(64, 4))
    )
    subset = blocked_pairs(split, "vec_id", "embedding", ["label", "bkt"], 0.3)
    sub_pairs = canon(subset)
    assert set(sub_pairs) <= set(single_pairs)
    # composite output keeps the caller's column names, not __blk
    assert {"label", "bkt"} <= set(subset.columns) and "__blk" not in subset.columns


def test_knn_join_exact_within_bucket(spark, sf_dir):
    """knn_join's ranked neighbors must equal the brute-force top-k
    computed WITHIN each bucket (the blocking is the approximation;
    ranking inside a block is exact), symmetric candidate direction
    (query != neighbor, both orders), and hint-off must shed the
    BroadcastExchange while emitting the identical rows."""
    from delta_lake_play_spark.operators.similarity import (
        hyperplane_bucket,
        knn_join,
        lsh_planes,
        scaled_sign_planes,
    )
    from delta_lake_play_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").where("vec_id < 300")
    k = 2
    got = knn_join(e, "vec_id", "embedding", k=k, dims=64)
    rows = got.collect()
    assert all(1 <= r["rank"] <= k for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)

    # brute-force truth within the same buckets
    p = scaled_sign_planes(e.count(), 250, 16)
    vb = e.withColumn(
        "b",
        hyperplane_bucket("embedding", lsh_planes(64, p))
        if p
        else F.lit(0).cast("long"),
    ).collect()
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    by_bucket = {}
    for r in vb:
        by_bucket.setdefault(r["b"], []).append(r)
    truth = set()
    for members in by_bucket.values():
        for q in members:
            cand = sorted(
                (
                    (-cos(q["embedding"], c["embedding"]), c["vec_id"])
                    for c in members
                    if c["vec_id"] != q["vec_id"]
                ),
            )[:k]
            for rank0, (_, nid) in enumerate(cand):
                truth.add((q["vec_id"], nid, rank0 + 1))
    got_set = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}
    assert got_set == truth and len(truth) > 0

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = knn_join(
            e, "vec_id", "embedding", k=k, dims=64, broadcast_hints=False
        )
        plan = plain._jdf.queryExecution().executedPlan().toString()
        # hint-off sheds the CORPUS broadcast; the remaining
        # BroadcastExchanges are the per-bucket salt table (<= 2^p
        # rows, metadata-sized, broadcast unconditionally on both
        # join sides)
        hinted_plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastExchange") < hinted_plan.count(
            "BroadcastExchange"
        )
        assert {
            (r["query_id"], r["neighbor_id"], r["rank"]) for r in plain.collect()
        } == got_set
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_knn_join_auto_disables_broadcast_past_threshold(spark, sf_dir):
    """The default broadcast_hints=None resolves from the corpus count:
    above broadcast_max_rows the corpus-sized broadcast is shed (a hard
    F.broadcast on a corpus past the 8 GB relation limit fails the job
    at scale), below it the map-side fast path is kept — rows identical
    either way."""
    from delta_lake_play_spark.operators.similarity import knn_join
    from delta_lake_play_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").where("vec_id < 300")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fast = knn_join(e, "vec_id", "embedding", k=2, dims=64)
        big = knn_join(
            e, "vec_id", "embedding", k=2, dims=64, broadcast_max_rows=10
        )
        fast_plan = fast._jdf.queryExecution().executedPlan().toString()
        big_plan = big._jdf.queryExecution().executedPlan().toString()
        assert big_plan.count("BroadcastExchange") < fast_plan.count(
            "BroadcastExchange"
        )
        canon = lambda d: sorted(  # noqa: E731
            (r["query_id"], r["neighbor_id"], r["rank"]) for r in d.collect()
        )
        assert canon(big) == canon(fast)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_knn_join_singleton_bucket_emits_nothing(spark):
    """A vector alone in its bucket has no candidates: it must be
    absent from the output, not paired across buckets."""
    from delta_lake_play_spark.operators.similarity import knn_join

    # two opposite vectors land in complementary sign buckets for any
    # plane set; with p forced >= 1 by a tiny base they never pair
    df = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [-1.0] * 4), (3, [1.0, 1.0, 1.0, 0.9])],
        "vec_id long, embedding array<double>",
    )
    out = knn_join(df, "vec_id", "embedding", k=2, dims=4, block_base=1)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    # 1 and 3 share all signs; 2 is alone in the complement bucket
    assert got == {(1, 3), (3, 1)}


def test_quality_classifier_loss_decreases(spark, sf_dir):
    """The trainer's hashed output includes per-iteration loss; this
    pins the TRAINING claim directly — sse_k strictly decreases over
    the three gradient steps, and weights move off zero."""
    from delta_lake_play_spark.queries.llm_compose import (
        llm_quality_classifier_train,
    )

    rows = {
        r["iter"]: r
        for r in llm_quality_classifier_train(spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1]["sse_k"] > rows[2]["sse_k"] > rows[3]["sse_k"] > 0
    assert any(rows[3][f"w{k}"] != 0 for k in range(4))


def test_classifier_calibration_bins_are_consistent(spark, sf_dir):
    """The calibration table's invariants: bins live on the 10-bin
    clamped grid, counts total the scored corpus, per-bin mean_score
    sits inside its bin's score range, and pos_ppm is a valid ppm."""
    from delta_lake_play_spark.queries.llm_compose import (
        _qc_feats,
        llm_classifier_calibration,
    )

    rows = llm_classifier_calibration(spark, sf_dir).collect()
    assert rows
    n_total = _qc_feats(spark, sf_dir).count()
    assert sum(r["n_docs"] for r in rows) == n_total
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert r["bin"] * 100_000 <= r["mean_score"] < (r["bin"] + 1) * 100_000
        assert 0 <= r["pos_ppm"] <= 1_000_000


def test_knn_join_salt_caps_mega_buckets(spark):
    """The skew guard: a bucket holding more vectors than bucket_cap
    must salt-split — per-query candidate counts stay <= ~cap, every
    query still gets neighbors (mega-bucket members are near-dups of
    each other), and below the cap the salt is the identity (same
    rows as an uncapped run)."""
    from delta_lake_play_spark.operators.similarity import knn_join

    # 40 near-identical vectors (one mega-bucket for any plane set)
    rows = [(i, [1.0, 0.9 + (i % 7) * 1e-3, 1.0, 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = knn_join(
        df, "vec_id", "embedding", k=50, dims=4, block_base=1000,
        bucket_cap=10,
    )
    got = capped.collect()
    # k=50 > group size, so rank count per query == its candidate count
    per_q = {}
    for r in got:
        per_q[r["query_id"]] = max(per_q.get(r["query_id"], 0), r["rank"])
    assert per_q and max(per_q.values()) <= 10  # ceil(40/10)=4 salts → ≤10 each
    assert set(per_q) == set(range(40))  # every query kept neighbors

    uncapped = knn_join(
        df, "vec_id", "embedding", k=3, dims=4, block_base=1000,
        bucket_cap=1000,
    )
    small = knn_join(
        df, "vec_id", "embedding", k=3, dims=4, block_base=1000,
    )  # default cap 500 > 40 → identical to uncapped
    canon = lambda d: sorted(  # noqa: E731
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in d.collect()
    )
    assert canon(uncapped) == canon(small)


def test_knn_join_salt_quality_in_mega_bucket(spark):
    """The salt's quality claim: inside a mega-bucket the members are
    near-duplicates, so a query's best WITHIN-SALT neighbor is nearly
    as close as its true best — the cos_sim of rank-1 salted results
    must sit within 1e-3 of the unsalted rank-1 for every query."""
    from delta_lake_play_spark.operators.similarity import knn_join

    rows = [
        (i, [1.0, 0.95 + (i % 11) * 1e-3, 1.0 - (i % 5) * 1e-3, 1.0])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    best = lambda d: {  # noqa: E731
        r["query_id"]: r["cos_sim"] for r in d.collect() if r["rank"] == 1
    }
    true_best = best(
        knn_join(df, "vec_id", "embedding", k=1, dims=4, block_base=1000,
                 bucket_cap=1000)
    )
    salted_best = best(
        knn_join(df, "vec_id", "embedding", k=1, dims=4, block_base=1000,
                 bucket_cap=10)
    )
    assert set(salted_best) == set(true_best)
    for q, c in true_best.items():
        assert salted_best[q] >= c - 1e-3, (q, salted_best[q], c)
