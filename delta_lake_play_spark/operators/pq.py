"""Product quantization (PQ) codebook training + ADC search.

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search") splits each d-dim vector into M subvectors, learns a small
k-means codebook per subspace, and represents every vector by M code
ids (here 4×8 codes = 4 bytes/vector vs 256 bytes of floats — the
memory step that makes billion-vector ANN fit). Search is ADC
(asymmetric distance computation): the query stays exact, per-subspace
distances to each codeword form an M×k lookup table, and a vector's
approximate distance is the sum of M table lookups.

Scale shape: all M subspaces train TOGETHER on one exploded
``(vid, m, subvector)`` table, so each Lloyd iteration is ONE
streaming pass + one (M·k)-row broadcast + one (M·k·subdim)-cell
aggregate — per-iteration cost does not multiply by M. Encoding falls
out of the final assignment (no extra pass), and ADC is a broadcast
join against the M×k lookup table followed by a map-side-combined
per-vector sum. Nothing pairwise, nothing corpus-sized on the driver.

Determinism contract (same as operators/kmeans.py): 1e-3 integer grid
via ``floor(x*1000 + 0.5)``, exact int64 subspace distances, argmin
tie-broken on code id, centroid updates re-quantized with the same
floor — bit-identical to the unrolled DuckDB CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.operators.kmeans import _quantize, _sq_dist

_CODEBOOK_SCHEMA = T.StructType(
    [
        T.StructField("m", T.IntegerType()),
        T.StructField("cl", T.LongType()),
        T.StructField("cv", T.ArrayType(T.LongType())),
    ]
)


def pq_adc_topk(
    spark: SparkSession,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_sub: int = 4,
    ksub: int = 8,
    iters: int = 2,
    grid: int = 1000,
    topk: int = 20,
    dim: int | None = None,
) -> DataFrame:
    """Train PQ codebooks, encode the corpus, and ADC-search the
    corpus against the min-id vector as query. Returns the top-k
    ``(vec_id, adist, rnk)`` by approximate distance (ties broken on
    vec_id) — rank 1 is the query itself at distance 0.

    ``dim``: pass the (fixed) vector width when the caller knows it;
    the ``None`` fallback derives it with a one-row driver action —
    a whole Spark job for a schema-level fact (guide §7.3)."""
    from delta_lake_play_spark.functions.fanout import fan_out

    # fan_out BEFORE the quantize map and subvector explode: a local
    # single-file scan would otherwise run every training pass's
    # map-side stage on one core (functions/fanout.py; no-op on
    # multi-split inputs).
    q = fan_out(
        vectors.select(F.col(id_col).alias("vid"), F.col(vec_col)), "vid"
    ).select("vid", _quantize(vec_col, grid).alias("qv"))
    # One exploded subvector table drives training, encoding and ADC.
    if dim is None:
        dim = len(q.select("qv").first()["qv"])
    subdim = dim // n_sub
    slices = F.array(
        *[F.slice("qv", mi * subdim + 1, subdim) for mi in range(n_sub)]
    )
    sub = q.select("vid", F.posexplode(slices).alias("m", "sv")).persist()
    try:
        # Seed each subspace from the ksub SMALLEST ACTUAL ids, not
        # `vid < ksub` — a filtered corpus or non-contiguous id space
        # would otherwise train with fewer (possibly zero) centroids
        # silently. cl stays the seed vid itself, mirroring the
        # oracle's `vec_id AS cl`.
        # ONE ordered-limit collect fetches every seed row (each vid
        # owns exactly n_sub subvector rows, so the first ksub·n_sub
        # rows by (vid, m) are precisely the ksub smallest vids'
        # rows); seed ids, the initial codebooks AND the ADC query
        # subvectors below all come from it — this replaces the three
        # separate driver jobs (seed-id limit, isin-filter collect,
        # min-vid filter collect) the r11 shape paid (guide §7.3
        # fixed cost; optimization r12).
        seed_rows = sub.orderBy("vid", "m").limit(ksub * n_sub).collect()
        seed_ids = sorted({int(r["vid"]) for r in seed_rows})
        if len(seed_ids) < ksub:
            raise ValueError(
                f"PQ needs at least ksub={ksub} vectors to seed each "
                f"subspace codebook; corpus has only {len(seed_ids)}"
            )
        codebooks = [
            (int(r["m"]), int(r["vid"]), list(r["sv"])) for r in seed_rows
        ]

        def assign(cbs: list[tuple[int, int, list[int]]]) -> DataFrame:
            # Measured note (optimization r11): a per-row literal
            # argmin (the operators/kmeans.py shape — nested-list
            # literal codebook indexed by m, zip_with + array_min)
            # was tried here and LOST to this broadcast-join form in
            # an interleaved same-session A/B at sf0.1 (median 11.1 s
            # vs 8.0 s end-to-end): with M=4 subvector rows per
            # vector the extra nested-HOF interpretation per row
            # outweighs the removed groupBy(vid, m) exchange, whose
            # partial argmin already combines map-side. The join
            # stays.
            cdf = local_df(spark, cbs, _CODEBOOK_SCHEMA)
            scored = sub.join(F.broadcast(cdf), "m").withColumn(
                "dist", _sq_dist("sv", "cv")
            )
            best = scored.groupBy("vid", "m").agg(
                F.min(F.struct(F.col("dist"), F.col("cl"), F.col("sv"))).alias("b")
            )
            return best.select(
                "vid",
                "m",
                F.col("b.cl").alias("cl"),
                F.col("b.dist").alias("dist"),
                F.col("b.sv").alias("sv"),
            )

        for _ in range(iters):
            cells = (
                assign(codebooks)
                .select("m", "cl", F.posexplode("sv").alias("d", "val"))
                .groupBy("m", "cl", "d")
                .agg(
                    F.floor(
                        F.sum("val") * F.lit(1.0) / F.count(F.lit(1)) + F.lit(0.5)
                    )
                    .cast("bigint")
                    .alias("c")
                )
                .collect()
            )
            by_key: dict[tuple[int, int], dict[int, int]] = {}
            for r in cells:
                by_key.setdefault((int(r["m"]), int(r["cl"])), {})[int(r["d"])] = int(
                    r["c"]
                )
            codebooks = [
                (m, cl, [dims[d] for d in sorted(dims)])
                for (m, cl), dims in sorted(by_key.items())
            ]

        enc = assign(codebooks)

        # ADC lookup table: exact per-subspace distance from the query
        # (min-id vector, kept exact/uncompressed) to each codeword —
        # M×k rows, computed driver-side from the collected codebooks.
        # seed_ids[0] IS the smallest actual vid, and its subvector
        # rows are already in hand from the single seed collect — no
        # extra filter job (optimization r11 removed the global-min
        # aggregate; r12 removed the remaining per-query-vector job).
        query = {
            int(r["m"]): list(r["sv"])
            for r in seed_rows
            if int(r["vid"]) == seed_ids[0]
        }
        lut_rows = [
            (m, cl, sum((a - b) * (a - b) for a, b in zip(query[m], cv)))
            for m, cl, cv in codebooks
        ]
        lut = local_df(
            spark,
            lut_rows,
            T.StructType(
                [
                    T.StructField("m", T.IntegerType()),
                    T.StructField("cl", T.LongType()),
                    T.StructField("pdist", T.LongType()),
                ]
            ),
        )
        adist = (
            enc.join(F.broadcast(lut), ["m", "cl"])
            .groupBy("vid")
            .agg(F.sum("pdist").alias("adist"))
        )
        from pyspark.sql.window import Window

        # TakeOrderedAndProject bounds the result FIRST (no global
        # sort); the rank window then runs over topk rows only.
        top = adist.orderBy(F.asc("adist"), F.asc("vid")).limit(topk)
        ranked = top.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.asc("adist"), F.asc("vid"))),
        )
        return ranked.select(
            F.col("vid").alias("vec_id"), "adist", "rnk"
        ).localCheckpoint()
    finally:
        sub.unpersist()
