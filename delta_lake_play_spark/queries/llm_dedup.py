"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.12): exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference's dedup surface is only MERGE-key uniqueness
(``api.py:92-102``); these are the EXT operators the north-star
mandates for 100 TB corpora. Scale shape for every variant:

- exact:      one hash-shuffle on the dedup key (map-side partial agg).
- minhash:    per-doc signature (narrow, codegen) → explode BANDS rows
              → shuffle on (band_id, band_val) → within-bucket pairs →
              exact-Jaccard verify. Never an all-pairs join.
- simhash:    per-doc 16-bit signature → 4-nibble LSH blocks (perfect
              recall at hamming ≤ 3) → same bucket-join shape.
- n-gram:     the *verify* stage (exact bigram-set Jaccard) run on a
              bounded candidate set; at scale candidates come from the
              minhash/simhash buckets above, never brute force.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.local import empty_df, local_df
from delta_lake_play_spark.llm import minhash as mh
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table


def _footer_midpoint(path: str, col: str, every: int) -> int | None:
    """Split point for the rows whose ``col`` is a multiple of
    ``every``, read from the parquet FOOTER statistics — a driver-side
    metadata fact, no Spark job. The midpoint of ``col``'s [min, max]
    range is clamped into the range those rows can span: each row
    group's [min, max] narrowed to its multiples of ``every``, row
    groups holding none skipped. A skewed id distribution (a sparse
    tail of non-multiples) therefore cannot push the split past every
    multiple. Returns None when any row group lacks integer stats for
    the column or fewer than two multiples fit (the caller falls back
    to a distributed aggregate)."""
    import operator

    import pyarrow.parquet as pq

    lo = hi = first = last = None
    try:
        md = pq.ParquetFile(path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = operator.index(st.min), operator.index(st.max)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
            rg_first, rg_last = mn + -mn % every, mx - mx % every
            if rg_first <= rg_last:
                first = rg_first if first is None else min(first, rg_first)
                last = rg_last if last is None else max(last, rg_last)
    except (OSError, KeyError, TypeError, ValueError):
        return None
    if first is None or first >= last:
        return None
    return min(max((lo + hi) // 2, first), last - 1)


# --- llm_dedup_exact ------------------------------------------------------

_EXACT_ORACLE = """
SELECT min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies,
       min(n_chars) AS n_chars
FROM documents
GROUP BY text
"""


@register("llm_dedup_exact", oracle=_EXACT_ORACLE)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy on the full text, keeping the
    lowest doc_id per group — one shuffle, map-side combined. (At
    100 TB you group on ``xxhash64(text)`` instead of the raw text to
    shrink shuffle width; grouping on text here keeps the oracle
    comparison byte-exact.)"""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


# --- llm_dedup_near_minhash ----------------------------------------------

_JACCARD_THRESHOLD = 0.8


def _minhash_oracle() -> str:
    hashes = mh.sql_token_hashes(mh.sql_token_set("text"))
    band_selects = "\nUNION ALL ".join(
        f"SELECT doc_id, {band} AS band_id, {mh.sql_band_value('sig', band)} AS band_val FROM sig"
        for band in range(mh.BANDS)
    )
    jac = mh.sql_jaccard("ta.hs", "tb.hs")
    return f"""
WITH hashed AS (SELECT doc_id, list_distinct({hashes}) AS hs FROM documents),
sig AS (SELECT doc_id, {mh.sql_minhash_signature('hs')} AS sig FROM hashed),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, {jac} AS jaccard
FROM cand c
JOIN hashed ta ON ta.doc_id = c.doc_a
JOIN hashed tb ON tb.doc_id = c.doc_b
WHERE {jac} >= {_JACCARD_THRESHOLD}
"""


@register("llm_dedup_near_minhash", oracle=_minhash_oracle())
def llm_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified by exact set
    Jaccard ≥ 0.8.

    Candidate generation shuffles O(docs × BANDS) rows on the bucket
    key; the self-join is within-bucket only. All shuffles are on
    high-cardinality keys — no skew beyond true dup-family size,
    which AQE's skew-join split handles if a family is pathological.

    Verification runs on the distinct token-HASH sets, not the token
    strings: |A∩B| over int64 arrays is identical on both engines
    (same hash function, collisions and all) and far cheaper to
    shuffle and compare than string arrays. The hashed stage is
    persisted — it feeds both band-explosion branches and both sides
    of the verify join, and recomputing the char-level fold 4× is
    the single biggest cost at bench scale. (At 100 TB this persist
    becomes a checkpoint of the signature table to Parquet.)

    Library form: ``operators/dedup.py::minhash_near_dup_pairs``."""
    from delta_lake_play_spark.operators.dedup import minhash_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(d, "doc_id", "text", _JACCARD_THRESHOLD)


# --- llm_dedup_simhash ----------------------------------------------------

# Classic 64-bit-simhash dedup radius; the 4×15-bit block LSH has
# perfect recall up to radius NBLOCKS-1 = 3 (pigeonhole).
_HAMMING_MAX = 3

_BLK_MASK = (1 << mh.BLOCK_BITS) - 1


def _simhash_oracle() -> str:
    tk = mh.sql_token_set("text")
    sim = mh.sql_simhash(mh.sql_token_hashes("tk"))
    blk_selects = "\nUNION ALL ".join(
        f"SELECT doc_id, sim, {k} AS blk_id, (sim >> {mh.BLOCK_BITS * k}) & {_BLK_MASK} AS blk_val FROM sims"
        for k in range(mh.NBLOCKS)
    )
    # NULL-text docs tokenize to nothing on the Spark side (the
    # signature aggregate sees no rows) and so join no pairs; the
    # oracle must exclude them too or they'd all share a constant sim.
    # len(tk) > 0: a zero-token doc (empty/whitespace-only text) has
    # no signature on the Spark side (its per-token rows are empty, so
    # the signature aggregate emits nothing); without the guard every
    # such doc would share the constant sim=0 and pair up.
    return f"""
WITH toks AS (SELECT doc_id, {tk} AS tk FROM documents
              WHERE text IS NOT NULL AND len({tk}) > 0),
sims AS (SELECT doc_id, {sim} AS sim FROM toks),
blks AS ({blk_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.sim AS sim_a, b.doc_id AS doc_b, b.sim AS sim_b
  FROM blks a JOIN blks b
    ON a.blk_id = b.blk_id AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {_HAMMING_MAX}
"""


@register("llm_dedup_simhash", oracle=_simhash_oracle())
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3 on a 60-bit signature
    via 15-bit-block LSH (bucket key space 4×2^15 — bucket sizes
    track true dup families, never O(n²/constant)).

    The block bucketing has perfect recall at this radius
    (pigeonhole: ≤3 differing bits can't touch all 4 blocks), so the
    expensive pairwise hamming check only runs within buckets.
    Hamming is filtered BEFORE the pair-distinct so the distinct's
    shuffle carries surviving pairs only.

    Library form: ``operators/dedup.py::simhash_near_dup_pairs``."""
    from delta_lake_play_spark.operators.dedup import simhash_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, "doc_id", "text", _HAMMING_MAX)


# --- llm_dedup_ngram_jaccard ----------------------------------------------

_NGRAM_SCOPE = 150  # bounded candidate set for the brute-force verify demo
_NGRAM_TOPN = 20


def _ngram_oracle() -> str:
    jac = mh.sql_jaccard("a.bg", "b.bg")
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
  FROM documents WHERE doc_id < {_NGRAM_SCOPE}
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM t
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT {_NGRAM_TOPN}
"""


@register("llm_dedup_ngram_jaccard", oracle=_ngram_oracle())
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-set Jaccard, top-20 most similar pairs in a
    bounded scope — the order-sensitive verify stage (catches
    sequence-preserving near-dups that token-set Jaccard overrates).

    Deliberately brute-force over ≤150 docs: this is the *verifier*;
    at corpus scale its input is the candidate pairs from the
    minhash/simhash buckets, so the quadratic term never sees n."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _NGRAM_SCOPE)
    # Tokenize into a materialized column first: referencing the
    # split/filter subtree from every element_at would inline it per
    # gram position (CollapseProject), re-splitting each text O(len)
    # times.
    tok = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: F.length(x) > 0).alias("tk"),
    ).persist()
    tk = F.col("tk")
    # Guard the 1-token doc: sequence(1, 0) descends to [1, 0] in
    # Spark and element_at(tk, 0) errors; the oracle's range(1, 1)
    # is empty, so a short doc yields the EMPTY gram set while a
    # NULL text stays NULL (DuckDB propagates NULL through
    # string_split → list_transform).
    bigrams = F.array_distinct(
        F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).when(tk.isNotNull(), F.array().cast("array<string>"))
    )
    g = tok.select("doc_id", bigrams.alias("bg"))
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("bg").alias("bg_a"))
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("bg").alias("bg_b"))
    inter = F.size(F.array_intersect("bg_a", "bg_b"))
    # try_divide: two zero-bigram docs give a 0/0 union — DuckDB
    # yields NULL there, ANSI Spark would raise DIVIDE_BY_ZERO.
    jac = F.try_divide(
        inter.cast("double"), F.size("bg_a") + F.size("bg_b") - inter
    )
    # explicit broadcast: the b-side is the bounded ≤150-doc scope by
    # CONSTRUCTION, so the theta join must plan as a broadcast
    # nested-loop at any threshold/stats setting — unhinted it
    # degrades to a true CartesianProduct the moment auto-broadcast
    # is off (caught by test_plan_shapes' r10 cartesian sweep).
    return (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(_NGRAM_TOPN)
    )


# --- llm_dedup_clusters ----------------------------------------------------

_CLUSTER_COS = 0.3


def _clusters_ctes() -> str:
    """The recursive-CTE prefix computing transitive duplicate
    clusters over the embedding-cosine pair graph; shared by the
    clusters oracle and the keep-best composition oracle. The pair
    graph uses the SAME composite blocking key as
    ``llm_dedup_embedding_cosine`` (label × corpus-scaled sign
    bucket, r8): at the driver fixtures the bucket is constant so
    the graph is unchanged, and at scale candidate enumeration stays
    linear in the corpus instead of quadratic per label."""
    from delta_lake_play_spark.queries.llm_similarity import (
        _emb_bucket_ctes,
        _sql_cos,
    )

    cos = _sql_cos("a.de", "b.de")
    return f"""
WITH RECURSIVE
v AS (SELECT vec_id, label, embedding::DOUBLE[] AS de FROM embeddings),
{_emb_bucket_ctes()},
pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM vb a JOIN vb b
    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {cos} >= {_CLUSTER_COS}
),
edges AS (SELECT pa AS ea, pb AS eb FROM pairs UNION ALL SELECT pb, pa FROM pairs),
walk(node, lab) AS (
  SELECT vec_id, vec_id FROM v
  UNION
  SELECT e.eb, w.lab FROM walk w JOIN edges e ON e.ea = w.node
),
clusters AS (
  SELECT node AS vec_id, CAST(min(lab) AS BIGINT) AS cluster
  FROM walk GROUP BY node
)"""


def _clusters_oracle() -> str:
    return _clusters_ctes() + "\nSELECT vec_id, cluster FROM clusters"


@register("llm_dedup_clusters", oracle=_clusters_oracle())
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the
    embedding-cosine near-dup pair graph — the step after any
    pairwise dedup that picks one canonical doc per transitive
    duplicate family (a≈b, b≈c ⇒ {a,b,c} keep min id). Iterative
    min-label propagation (driver loop, one join+agg shuffle per
    round, diameter-bounded); the oracle is the same closure as a
    DuckDB recursive CTE.

    Library form: ``operators/dedup.py::connected_components``."""
    from delta_lake_play_spark.operators.dedup import connected_components
    from delta_lake_play_spark.operators.similarity import blocked_pairs
    from delta_lake_play_spark.queries.llm_similarity import with_emb_bucket

    e = load_table(spark, sf_dir, "embeddings")
    pairs = blocked_pairs(
        with_emb_bucket(e), "vec_id", "embedding", ["label", "__bkt"], _CLUSTER_COS
    ).select(F.col("__a").alias("a"), F.col("__b").alias("b"))
    out = connected_components(e.select(F.col("vec_id").alias("node")), pairs)
    return out.select(F.col("node").alias("vec_id"), "cluster")


# --- llm_dedup_fingerprint ------------------------------------------------

def _fp_oracle() -> str:
    from delta_lake_play_spark.llm.text import sql_fingerprint

    return f"""
SELECT {sql_fingerprint('text')} AS fp,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("llm_dedup_fingerprint", oracle=_fp_oracle())
def llm_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the 8-byte document fingerprint instead
    of the raw text — at 100 TB this shrinks the dedup shuffle from
    full documents to (hash, doc_id) pairs, the difference between
    shuffling the corpus and shuffling 16 bytes per doc. Collisions
    merge distinct docs (probability ~n²/2P); production uses a
    128-bit hash, the pattern is identical."""
    from delta_lake_play_spark.llm.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


# --- llm_dedup_url --------------------------------------------------------
# URL-canonicalization dedup — the first dedup a web-crawl pipeline
# runs (before any content hashing): strip scheme / www. / fragment /
# tracking params, lowercase the host, drop a trailing slash, then
# keep one document per canonical URL. The fixture has no URL column,
# so each doc synthesizes a crawl-style URL (deterministic casing /
# tracking noise derived from doc_id) and the operator must collapse
# the variants. Pure regexp_replace chains — identical PCRE-free
# patterns evaluate the same in Java and DuckDB.

_URL_CANON_STEPS = [
    (r"^https?://", ""),          # scheme
    (r"^[Ww][Ww][Ww]\.", ""),     # www.
    (r"#.*$", ""),                # fragment
    (r"[?&]utm_[a-z]+=[^&#]*", ""),  # tracking params
    (r"\?$", ""),                 # dangling ?
    (r"/$", ""),                  # trailing slash
]

_URL_SYNTH_SQL = """
  CASE WHEN doc_id % 3 = 0 THEN 'https://WWW.' ELSE 'http://' END
  || 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
  || CAST(doc_id // 4 AS VARCHAR)
  || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END
"""


def _url_oracle() -> str:
    canon = "lower(u)"
    for pat, rep in _URL_CANON_STEPS:
        canon = f"regexp_replace({canon}, '{pat}', '{rep}', 'g')"
    return f"""
WITH urls AS (
  SELECT doc_id, {_URL_SYNTH_SQL} AS u FROM documents
),
canon AS (SELECT doc_id, {canon} AS curl FROM urls)
SELECT curl, CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM canon GROUP BY curl
"""


@register("llm_dedup_url", oracle=_url_oracle())
def llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One document per canonical URL (min-doc_id keeper).

    Scale shape: canonicalization is per-row codegen (a fixed chain
    of regexp_replace, no shuffle); the dedup is one map-side-combined
    aggregation on the canonical string — at 100 TB you'd aggregate on
    xxhash64(curl) and carry the string only for the keeper rows."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("https://WWW.")).otherwise(
            F.lit("http://")
        ),
        F.lit("src"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.com/doc/"),
        F.floor(F.col("doc_id") / 4).cast("long").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    canon = F.lower(url)
    for pat, rep in _URL_CANON_STEPS:
        canon = F.regexp_replace(canon, pat, rep)
    return (
        d.select("doc_id", canon.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_variants"),
        )
    )


# --- llm_substring_dedup ---------------------------------------------------
# Corpus-level duplicated-PASSAGE detection (the ExactSubstr shape of
# Lee et al., "Deduplicating Training Data Makes Language Models
# Better"): a k-token window that occurs more than once ANYWHERE in
# the corpus marks every position it covers as duplicated text. The
# suffix-array formulation is inherently single-machine; the
# distributed re-expression is shingle-anchored:
#
#   1. every doc emits its k-token shingles at every position (one
#      narrow explode — corpus-linear, no driver state);
#   2. one map-side-combined groupBy reduces positions to DISTINCT
#      (doc, shingle) pairs with their in-doc occurrence count k —
#      within-doc repeats collapse before anything shuffles;
#   3. a window SUM(k) OVER (PARTITION BY shingle) over that reduced
#      set gives each pair its global occurrence count (>= 2 =
#      duplicated anchor, within-doc repeats counting exactly like a
#      suffix array's self-matches) without a second corpus scan or
#      a join-back at full position volume;
#   4. aggregate per doc: duplicated-anchor fraction >= threshold
#      flags the doc for removal / span-trimming downstream.
#
# One corpus explode, then three keyed shuffles whose volume is the
# distinct-pair set, not the position set; nothing is ever all-pairs
# and the driver never sees row data. At 100 TB the shuffle key
# should be a 128-bit shingle hash (8-byte keys vs ~50-byte
# strings); the string key here keeps the DuckDB oracle exact.

_SUBSTR_K = 8


def _substring_oracle() -> str:
    k = _SUBSTR_K
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
  FROM documents
),
sh AS (
  SELECT doc_id, array_to_string(tk[i:i+{k - 1}], ' ') AS shingle
  FROM t, UNNEST(range(1, len(tk) - {k} + 2)) AS u(i)
),
counts AS (
  SELECT shingle, COUNT(*) AS cnt FROM sh GROUP BY shingle
),
per AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_anchors
  FROM sh s JOIN counts c USING (shingle)
  GROUP BY s.doc_id
)
SELECT t.doc_id,
       COALESCE(per.n_shingles, 0) AS n_shingles,
       COALESCE(per.dup_anchors, 0) AS dup_anchors,
       per.dup_anchors / NULLIF(per.n_shingles, 0) AS dup_frac
FROM t LEFT JOIN per USING (doc_id)
"""


@register("llm_substring_dedup", oracle=_substring_oracle())
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-substring fraction over the WHOLE corpus:
    the fraction of k-token windows that occur >= 2 times anywhere
    (see module comment — the distributed ExactSubstr re-expression).
    Docs too short for one window (and NULL docs) report 0 shingles
    and a NULL fraction."""
    k = _SUBSTR_K
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: F.length(x) > 0).alias("tk"),
    )
    tk = F.col("tk")
    # size(NULL array) = -1, so NULL-text docs fall to the empty
    # branch and explode() drops them — same as the oracle's
    # UNNEST(range(NULL)) producing no rows.
    shingles = F.when(
        F.size(tk) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - k + 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark.sql import Window

    sh = tok.select("doc_id", F.explode(shingles).alias("shingle"))
    pairs = sh.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("k")
    )
    cnt = F.sum("k").over(Window.partitionBy("shingle"))
    per = (
        pairs.withColumn("cnt", cnt)
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_shingles"),
            F.sum(F.when(F.col("cnt") >= 2, F.col("k")).otherwise(F.lit(0)))
            .alias("dup_anchors"),
        )
    )
    return (
        tok.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("dup_anchors", F.lit(0)).alias("dup_anchors"),
            F.try_divide(
                F.col("dup_anchors"), F.col("n_shingles")
            ).alias("dup_frac"),
        )
    )


# --- llm_dedup_incremental -------------------------------------------------
# Continuous-ingest dedup: a signature STORE (versioned table of
# (doc_id, sig) — K int64s/doc) is built once from the existing
# corpus; each arriving batch LSH-joins its own band rows against the
# store's, verifies candidates by signature-agreement Jaccard
# estimate (never re-reading old text), and appends its signatures to
# advance the store. Per-batch cost is O(|batch|) — the property that
# makes dedup sustainable on a corpus that only ever grows.

_INC_THRESHOLD = 0.75


def _incremental_oracle(final: str = "pairs") -> str:
    """Corpus-wide SQL recomputation of the incremental pair set.
    ``final='pairs'`` emits (new_doc, matched_doc, est_jaccard);
    ``final='dups'`` emits the flagged-doc set — which is invariant
    to how arrivals are split into batches as long as batches arrive
    in ascending doc_id order (a doc is dup iff it matches the
    pre-existing store or ANY lower-id arrival)."""
    hashes = mh.sql_token_hashes("tk")
    band_selects = "\nUNION ALL ".join(
        f"SELECT doc_id, tag, {band} AS band_id, "
        f"{mh.sql_band_value('sig', band)} AS band_val FROM sig"
        for band in range(mh.BANDS)
    )
    eq_frac = (
        "list_sum(list_transform(range(1, 17), "
        "i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0"
    )
    selects = {
        "pairs": f"SELECT c.new_doc, c.matched_doc, {eq_frac} AS est_jaccard",
        "dups": "SELECT DISTINCT c.new_doc AS doc_id",
    }
    return f"""
WITH toks AS (
  SELECT doc_id, {mh.sql_token_set('text')} AS tk,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS tag
  FROM documents
  WHERE text IS NOT NULL AND len({mh.sql_token_set('text')}) > 0
),
sig AS (SELECT doc_id, tag, {mh.sql_minhash_signature(hashes)} AS sig FROM toks),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS matched_doc
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
  WHERE a.tag = 1 AND (b.tag = 0 OR b.doc_id < a.doc_id)
)
{selects[final]}
FROM cand c
JOIN sig sa ON sa.doc_id = c.new_doc
JOIN sig sb ON sb.doc_id = c.matched_doc
WHERE {eq_frac} >= {_INC_THRESHOLD}
"""


@register("llm_dedup_incremental", oracle=_incremental_oracle(final="dups"))
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup, judged on the scale-safe KEEP/DROP
    contract (operators/dedup.py::incremental_minhash_flagged): docs
    with ``doc_id % 3 != 0`` play the already-ingested corpus — their
    SIGNATURE TABLE is persisted as a versioned table; the ``% 3 ==
    0`` docs arrive as the new batch, are flagged against store +
    earlier-in-batch via banded LSH and rep-level signature-estimate
    verification, and their signatures are appended so the store is
    ready for the next batch.

    VERDICT r6 re-point: the judged surface was the full MEMBER-PAIR
    expansion (output quadratic in dup-clique size — 3.2 M → 79.4 M
    rows at the 5× probe); a dedup sink only needs the flagged set,
    whose per-batch cost is independent of how many dup PAIRS exist.
    The pair expansion remains a demo (exactness-pinned against this
    operator by tests/test_operators.py::
    test_incremental_flagged_matches_pairs). The oracle recomputes the
    same flagged set corpus-wide in SQL — identical to the streaming
    key's contract, which batches the same arrivals."""
    from delta_lake_play_spark.operators.dedup import (
        incremental_minhash_flagged,
        minhash_signature_table,
    )
    from delta_lake_play_spark.table.versioned import (
        VersionedTable,
        temp_table_path,
    )

    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0)
    store = VersionedTable.create(
        spark,
        temp_table_path("sigstore"),
        minhash_signature_table(old, "doc_id", "text"),
    )
    flagged, new_sigs = incremental_minhash_flagged(
        store.to_df(), new, "doc_id", "text", _INC_THRESHOLD
    )
    out = flagged.localCheckpoint()  # materialize before the store advances
    store.append(new_sigs)  # store now covers the whole corpus
    return out


# --- llm_dedup_streaming ----------------------------------------------------
# The production composition of this module with the streaming and
# transaction layers: documents land on a bronze table as commits, a
# Structured Streaming query tails it (Python versioned_table source),
# and each micro-batch dedups against the ADVANCING signature store
# with SetTransaction-idempotent writes, so a crash-replayed batch can
# neither double-flag a doc nor double-advance the store. The flagged
# set is invariant to micro-batch boundaries because arrivals are
# committed in ascending doc_id ranges: a doc is dup iff it matches
# the pre-existing store or any lower-id arrival — exactly what the
# corpus-wide oracle recomputes.
#
# Batch granularity, honestly: maxVersionsPerTrigger paces only
# commits that land AFTER the stream's first trigger (the Python
# DataSource API exposes no admission control to the availableNow
# wrapper — sources/table_stream.py documents the limit), so this
# demo's pre-committed backlog drains as ONE batch. Live pacing is
# pinned by tests/test_streaming.py::test_max_versions_per_trigger_
# paces_steady_state; boundary invariance of the dedup itself by
# tests/test_operators.py::test_incremental_minhash_two_batches_
# match_one_shot.


@register("llm_dedup_streaming", oracle=_incremental_oracle(final="dups"))
def llm_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup end-to-end: bronze commits →
    versioned_table stream source → foreachBatch
    ``incremental_minhash_flagged`` against a signature store →
    exactly-once (txn-tagged) dup-set append + store advance. Every
    sink application runs TWICE with the same (appId, batch_id) — the
    second is the simulated at-least-once replay and must no-op."""
    import tempfile as _tempfile
    import uuid as _uuid

    from delta_lake_play_spark.operators.dedup import (
        incremental_minhash_flagged,
        minhash_signature_table,
    )
    from delta_lake_play_spark.sources.table_stream import VersionedTableDataSource
    from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path

    spark.dataSource.register(VersionedTableDataSource)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    arrivals = d.filter(F.col("doc_id") % 3 == 0)

    store = VersionedTable.create(
        spark,
        temp_table_path("sigstream-store"),
        minhash_signature_table(corpus, "doc_id", "text"),
    )
    dups = VersionedTable.create(
        spark,
        temp_table_path("sigstream-dups"),
        empty_df(spark, "doc_id bigint"),
    )

    # two ascending-id commits on bronze; under availableNow the
    # un-anchored first latestOffset() deliberately delivers BOTH as
    # one initial-snapshot batch (SURVEY §10 r10 decomposition —
    # pacing from a guessed anchor could regress offsets after a
    # checkpoint resume). Store-advance-across-batches semantics are
    # pinned at the operator level by tests/test_operators.py::
    # test_incremental_minhash_two_batches_match_one_shot and the
    # steady-state pacing by tests/test_streaming.py.
    #
    # Split point (optimization r12, guide §7.3 driver-side fixed
    # cost): ANY ascending-range boundary yields the same flagged set
    # (the invariance documented above), so the exact percentile(0.5)
    # job is replaced by the doc_id range midpoint read from the
    # parquet FOOTER stats, clamped into the range the arrivals (the
    # multiples of 3) can span — a driver-side metadata read instead
    # of a distributed aggregate job. Falls back to the percentile job
    # when the footer carries no integer doc_id stats.
    b1 = _footer_midpoint(os.path.join(sf_dir, "documents.parquet"), "doc_id", 3)
    if b1 is None:
        (b1,) = arrivals.agg(F.expr("percentile(doc_id, 0.5)")).first()
    bronze = VersionedTable.create(
        spark,
        temp_table_path("sigstream-bronze"),
        arrivals.filter(F.col("doc_id") <= b1).coalesce(1),
    )
    bronze.append(arrivals.filter(F.col("doc_id") > b1).coalesce(1))

    app_id = "dedup-sink-" + _uuid.uuid4().hex[:8]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # The dup-SET operator: the pair predicate is decided at rep
        # level, so per-batch cost never pays the O(clique²) member-
        # pair expansion a keep/drop sink doesn't need (measured
        # 651 k pairs/batch on this corpus; the flagged set is ~1.6 k).
        flagged, new_sigs = incremental_minhash_flagged(
            store.to_df(), batch_df, "doc_id", "text", _INC_THRESHOLD
        )
        for _replay in range(2):  # second pass = simulated batch replay
            dups.append(flagged, txn_app_id=app_id + "-dups", txn_version=batch_id)
            store.append(new_sigs, txn_app_id=app_id + "-sigs", txn_version=batch_id)
        new_sigs.unpersist()  # batch cache must not accumulate across batches

    q = (
        spark.readStream.format("versioned_table")
        .option("maxVersionsPerTrigger", "1")
        .load(bronze.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", _tempfile.mkdtemp(prefix="dedup_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dups.to_df()


# --- llm_dedup_recall -------------------------------------------------------
#
# Self-evaluating dedup (the ANN-recall pattern of llm_ann_recall
# applied to LSH dedup): ground truth = EXACT all-pairs token-set
# Jaccard >= 0.8 over a bounded scope; flagged = the production
# minhash+banded-LSH pipeline on the same scope; recall = hit/true —
# quantifying, in-engine, what the banding (BANDS=4, K=16) gives up.
# The all-pairs truth join is the bounded-verifier demo shape (the
# quadratic term never sees the corpus; at scale you sample a scope
# exactly like this to monitor dedup recall in production). Both
# sides compute both sets from the same token hashes, so the single
# recall division is the only float op.

_RECALL_SCOPE = 400


def _recall_oracle() -> str:
    hashes = mh.sql_token_hashes(mh.sql_token_set("text"))
    band_selects = "\nUNION ALL ".join(
        f"SELECT doc_id, {band} AS band_id, "
        f"{mh.sql_band_value('sig', band)} AS band_val FROM sig"
        for band in range(mh.BANDS)
    )
    jac_t = mh.sql_jaccard("a.hs", "b.hs")
    jac_v = mh.sql_jaccard("ta.hs", "tb.hs")
    return f"""
WITH scoped AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id < {_RECALL_SCOPE}
),
hashed AS MATERIALIZED (
  SELECT doc_id, list_distinct({hashes}) AS hs FROM scoped
),
truth AS MATERIALIZED (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
  WHERE {jac_t} >= {_JACCARD_THRESHOLD}
),
sig AS (SELECT doc_id, {mh.sql_minhash_signature('hs')} AS sig FROM hashed),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
),
flagged AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b FROM cand c
  JOIN hashed ta ON ta.doc_id = c.doc_a
  JOIN hashed tb ON tb.doc_id = c.doc_b
  WHERE {jac_v} >= {_JACCARD_THRESHOLD}
),
hit AS (SELECT f.doc_a FROM flagged f
        JOIN truth t ON f.doc_a = t.da AND f.doc_b = t.db)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM flagged) AS BIGINT) AS n_flagged,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
         CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / (SELECT COUNT(*) FROM truth) END AS recall
"""


@register("llm_dedup_recall", oracle=_recall_oracle())
def llm_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH dedup recall against exact all-pairs Jaccard truth on a
    bounded scope — one output row: n_true, n_flagged, n_hit,
    recall."""
    from delta_lake_play_spark.operators.dedup import minhash_near_dup_pairs

    scope = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _RECALL_SCOPE)
        .select("doc_id", "text")
    )
    hashed = scope.select(
        "doc_id", F.array_distinct(mh.token_hashes("text")).alias("hs")
    ).persist()
    a = hashed.select(F.col("doc_id").alias("da"), F.col("hs").alias("hs_a"))
    b = hashed.select(F.col("doc_id").alias("db"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = F.try_divide(
        inter.cast("double"), F.size("hs_a") + F.size("hs_b") - inter
    )
    truth = (
        a.join(b, F.col("da") < F.col("db"))
        .where(jac >= _JACCARD_THRESHOLD)
        .select("da", "db")
        .persist()
    )
    flagged = minhash_near_dup_pairs(
        scope, "doc_id", "text", _JACCARD_THRESHOLD
    ).select("doc_a", "doc_b").persist()
    hit = flagged.join(
        truth,
        (F.col("doc_a") == F.col("da")) & (F.col("doc_b") == F.col("db")),
        "leftsemi",
    )
    n_true = truth.count()
    n_flagged = flagged.count()
    n_hit = hit.count()
    truth.unpersist()
    flagged.unpersist()
    hashed.unpersist()
    recall = float(n_hit) / n_true if n_true > 0 else None
    return local_df(
        spark,
        [(n_true, n_flagged, n_hit, recall)],
        "n_true bigint, n_flagged bigint, n_hit bigint, recall double",
    )


# --- llm_source_overlap (cross-source duplication matrix) -------------------
# The shard-vs-shard contamination report a corpus curator reads
# before mixing sources: for every source pair, how many DISTINCT
# word 5-grams appear in both (whole-doc fingerprints are too strict
# — the fixtures, like real crawl snapshots, share phrases long
# before they share byte-identical documents). The scale shape is
# the whole point — never doc×doc: one distinct over (gram, source)
# collapses the corpus to its shingle vocabulary × sources, and the
# self-join's per-gram group is bounded by the SOURCE count (a
# handful), so pair expansion is |grams|·O(sources²) — corpus-linear.
# The same aggregate yields each pair's containment denominator
# (distinct grams per source) so the report carries overlap ratios,
# not just raw counts. (Production hashes grams to xxhash64 to
# shrink the shuffle; raw strings here keep the oracle byte-exact.)

_OVERLAP_N = 5


def _source_overlap_oracle() -> str:
    gram = " || ' ' || ".join(f"t[i+{d}]" for d in range(_OVERLAP_N))
    return f"""
WITH tok AS (
  SELECT source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT source,
         unnest(list_transform(
           range(1, greatest(len(t) - {_OVERLAP_N - 1}, 0) + 1),
           i -> {gram})) AS gram
  FROM tok
),
per_src AS (SELECT source, count(*) AS n_grams FROM grams GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_grams
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.src_a, p.src_b, CAST(p.shared_grams AS BIGINT) AS shared_grams,
       CAST(sa.n_grams AS BIGINT) AS n_grams_a,
       CAST(sb.n_grams AS BIGINT) AS n_grams_b,
       p.shared_grams / least(sa.n_grams, sb.n_grams) AS containment
FROM pairs p
JOIN per_src sa ON sa.source = p.src_a
JOIN per_src sb ON sb.source = p.src_b
"""


@register("llm_source_overlap", oracle=_source_overlap_oracle())
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: distinct shared word 5-grams
    and containment (shared / smaller side) for every source pair —
    the report that decides whether two crawl snapshots are worth
    mixing or one effectively contains the other.

    Plan (optimization r11): per-doc grams (narrow transform, same
    gram builder as ``llm_decontaminate``) → ONE map-side-combined
    ``groupBy(gram).agg(collect_set(source))`` → each gram's
    (≤ #sources) set expands its ordered source pairs MAP-SIDE →
    count per pair; per-source denominators broadcast back in. No
    doc×doc join anywhere, and only (src_a, src_b) rows shuffle after
    the single gram exchange."""
    from delta_lake_play_spark.functions.fanout import fan_out

    d = load_table(spark, sf_dir, "documents")
    # fan_out keyed on doc_id (NOT source — ≤ #sources partitions
    # would cap and skew the width) before the per-occurrence gram
    # concat, the query's most expensive map (functions/fanout.py).
    tok = fan_out(d.select("doc_id", "source", "text"), "doc_id").select(
        "source",
        F.filter(F.split("text", " "), lambda x: F.length(x) > 0).alias("t"),
    )
    tk = F.col("t")
    n = F.greatest(F.size(tk) - (_OVERLAP_N - 1), F.lit(0))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tk, i + d) for d in range(_OVERLAP_N)]
    )
    grams_arr = F.when(
        n >= 1, F.transform(F.sequence(F.lit(1), n), gram)
    ).otherwise(F.array().cast("array<string>"))
    # ONE shuffle on the gram (groupBy with map-side-combined
    # collect_set) replaces the previous three gram-string exchanges
    # (a (gram, source) distinct plus both sides of a gram self-join):
    # each gram's ≤|sources| source set is tiny, so ordered pairs are
    # expanded map-side from the sorted set and only the (src_a,
    # src_b) counts shuffle afterwards. Identical counts: a pair
    # shares a gram iff both sources sit in that gram's set. persist:
    # two consumers (pair expansion + per-source denominators); at
    # 100 TB this becomes a checkpointed gram table in Parquet.
    gsets = (
        tok.select("source", F.explode(grams_arr).alias("gram"))
        .groupBy("gram")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .persist()
    )
    per_src = (
        gsets.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_grams"))
    )
    pairs = (
        gsets.select(F.explode("srcs").alias("src_a"), "srcs")
        .select(
            "src_a",
            F.explode(
                F.filter("srcs", lambda y: y > F.col("src_a"))
            ).alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared_grams"))
    )
    sa = per_src.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("n_grams_a")
    )
    sb = per_src.select(
        F.col("source").alias("src_b"), F.col("n_grams").alias("n_grams_b")
    )
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            "n_grams_a",
            "n_grams_b",
            # bare IEEE division of two exact integers: correctly
            # rounded, so bit-identical across engines (no round())
            (
                F.col("shared_grams") / F.least("n_grams_a", "n_grams_b")
            ).alias("containment"),
        )
    )


# --- llm_dedup_cross_corpus (onion / priority dedup) -------------------------
# When mixing sources of unequal trust (Wikipedia > books > web), a
# near-dup across sources must be resolved in the HIGH-priority
# source's favor — dropping at random (or by doc_id) silently bleeds
# curated data. Priority here is the deterministic source ordering; a
# document is dropped when any near-dup connects it to a better
# document: a strictly higher-priority source, or a lower doc_id
# within its own source. Single-pass pairwise contract (not the
# transitive closure — that is llm_dedup_clusters' job).
#
# VERDICT r8 re-point: the output is doc-sized (kept per doc), so the
# plan must never materialize the member-pair set — the same surgery
# r7 prescribed for llm_dedup_incremental. The decision is made at
# REP level (operators/dedup.py::priority_dedup_flagged): candidates
# and signature-estimate verification run once per DISTINCT signature
# pair, and "some pair-partner beats me" collapses to "the minimum
# (source, doc_id) struct over my matched signature families beats
# me". Verification is the signature-agreement estimate (≥ 13/16
# equal components at the 0.8 threshold) — K stored longs per rep
# pair, never a token-set intersection per member pair. The pairwise
# member expansion survives as the demo form priority_dedup_pairs,
# equivalence-pinned by tests/test_operators.py::
# test_priority_flagged_matches_pairs.

_XC_THRESHOLD = 0.8  # est-jaccard: >= 13 of K=16 signature components


def _cross_corpus_oracle() -> str:
    hashes = mh.sql_token_hashes("tk")
    tk = mh.sql_token_set("text")
    band_selects = "\nUNION ALL ".join(
        f"SELECT doc_id, source, {band} AS band_id, "
        f"{mh.sql_band_value('sig', band)} AS band_val FROM sig"
        for band in range(mh.BANDS)
    )
    eq_frac = (
        f"list_sum(list_transform(range(1, {mh.K + 1}), "
        f"i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {mh.K}.0"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, source, {tk} AS tk
  FROM documents
  WHERE text IS NOT NULL AND len({tk}) > 0
),
sig AS (SELECT doc_id, source, {mh.sql_minhash_signature(hashes)} AS sig FROM toks),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
losers AS (
  -- NULL source sorts LAST (loses to any known source); two NULLs
  -- tie and fall to doc_id — mirrors priority_dedup_flagged's
  -- (pn, p, i) rank struct
  SELECT DISTINCT CASE
    WHEN sa.source IS NOT NULL AND (sb.source IS NULL OR sa.source < sb.source)
      THEN c.doc_b
    WHEN sb.source IS NOT NULL AND (sa.source IS NULL OR sb.source < sa.source)
      THEN c.doc_a
    ELSE c.doc_b END AS loser
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE {eq_frac} >= {_XC_THRESHOLD}
)
SELECT d.doc_id, d.source, l.loser IS NULL AS kept
FROM documents d LEFT JOIN losers l ON d.doc_id = l.loser
"""


def _cluster_priority_oracle() -> str:
    hashes = mh.sql_token_hashes("tk")
    tk = mh.sql_token_set("text")
    band_selects = "\nUNION ALL ".join(
        f"SELECT doc_id, {band} AS band_id, "
        f"{mh.sql_band_value('sig', band)} AS band_val FROM sig"
        for band in range(mh.BANDS)
    )
    eq_frac = (
        f"list_sum(list_transform(range(1, {mh.K + 1}), "
        f"i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {mh.K}.0"
    )
    return f"""
WITH RECURSIVE
toks AS (
  SELECT doc_id, {tk} AS tk
  FROM documents
  WHERE text IS NOT NULL AND len({tk}) > 0
),
sig AS (SELECT doc_id, {mh.sql_minhash_signature(hashes)} AS sig FROM toks),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.pa, c.pb FROM cand c
  JOIN sig sa ON sa.doc_id = c.pa
  JOIN sig sb ON sb.doc_id = c.pb
  WHERE {eq_frac} >= {_XC_THRESHOLD}
),
edges AS (SELECT pa AS ea, pb AS eb FROM pairs UNION ALL SELECT pb, pa FROM pairs),
walk(node, lab) AS (
  SELECT doc_id, doc_id FROM sig
  UNION
  SELECT e.eb, w.lab FROM walk w JOIN edges e ON e.ea = w.node
),
clusters AS (
  SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster
  FROM walk GROUP BY node
),
ranked AS (
  -- best member per component: null-last source, then doc_id
  SELECT c.doc_id, row_number() OVER (
           PARTITION BY c.cluster
           ORDER BY (d.source IS NULL), d.source, c.doc_id
         ) AS rn
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT d.doc_id, d.source, coalesce(r.rn = 1, TRUE) AS kept
FROM documents d LEFT JOIN ranked r ON r.doc_id = d.doc_id
"""


@register("llm_dedup_cluster_priority", oracle=_cluster_priority_oracle())
def llm_dedup_cluster_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion dedup with CLOSURE semantics: exactly one survivor —
    the best (source, doc_id) member — per TRANSITIVE near-dup family
    (a≈b, b≈c ⇒ one of {a,b,c} survives), vs ``llm_dedup_cross_corpus``'s
    single-pass pairwise contract which can keep chain endpoints. The
    connected-components run is over FAMILY nodes (one per distinct
    signature) and rep-level verified edges; docs join their family's
    component in one hash join — member pairs are never materialized.
    The oracle recomputes the identical closure as a recursive CTE
    over the doc-level signature-estimate graph.

    Library form: ``operators/dedup.py::priority_dedup_closure``."""
    from delta_lake_play_spark.operators.dedup import priority_dedup_closure

    d = load_table(spark, sf_dir, "documents")
    res = priority_dedup_closure(d, "doc_id", "text", "source", _XC_THRESHOLD)
    return (
        d.select("doc_id", "source")
        .join(res.select("doc_id", "kept"), "doc_id", "left")
        .select(
            "doc_id", "source", F.coalesce("kept", F.lit(True)).alias("kept")
        )
    )


@register("llm_dedup_cross_corpus", oracle=_cross_corpus_oracle())
def llm_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority ("onion") dedup across sources, decided at rep level:
    per document, kept=False iff some near-dup (signature-estimate ≥
    0.8 within a shared LSH band bucket) comes from a better source,
    or from the same source with a lower doc_id — the keep/drop
    contract a mixing pipeline consumes before weighting sources.

    Scale shape (the r8 re-point): every table in the plan is sized
    by distinct SIGNATURES or by docs — candidate generation,
    estimate verification, and the best-member min all happen once
    per signature family, and docs join the decision back in one hash
    join. Cost is therefore independent of how many near-dup PAIRS
    exist (the previous form materialized the full member-pair set —
    output-bound at 161 s on the sf1 fixture whose pair count grows
    ~quadratically). The oracle recomputes the identical drop set
    pairwise in SQL, which is exactly the equivalence the rep-level
    min exploits. Docs with no tokens pair with nothing → kept."""
    from delta_lake_play_spark.operators.dedup import priority_dedup_flagged

    d = load_table(spark, sf_dir, "documents")
    res = priority_dedup_flagged(d, "doc_id", "text", "source", _XC_THRESHOLD)
    return (
        d.select("doc_id", "source")
        .join(res.select("doc_id", "kept"), "doc_id", "left")
        .select(
            "doc_id", "source", F.coalesce("kept", F.lit(True)).alias("kept")
        )
    )


# --- llm_dedup_containment -------------------------------------------------
#
# ASYMMETRIC near-dup detection: doc A is (near-)contained in doc B
# when C(A→B) = |S(A) ∩ S(B)| / |S(A)| ≥ θ over word-5-gram shingle
# SETS — the quote-expansion / boilerplate-wrapper case that
# symmetric Jaccard underrates (a short doc pasted into a long one
# has tiny Jaccard but containment ≈ 1). Candidates come from an
# INVERTED shingle index (one keyed self-join on the int64 shingle
# hash), never an all-pairs join; shingles above a document-frequency
# cap are dropped from the index first (the standard stop-shingle /
# boilerplate guard). Two knobs control the Σ df² that sizes an
# inverted-index join, and both matter: the df cap bounds it at
# cap × corpus-shingle-count (linear, never quadratic), and the
# shingle WIDTH keeps dfs small in the first place — 5-grams here,
# because the fixture's 31-token vocabulary SATURATES the trigram
# space as the corpus grows (measured: every trigram df > 24 at
# alt-sf0.5, a 17.9× 5×-probe ratio; 5-gram space is 31⁵ ≈ 28.6 M,
# max df 6 at the same scale, probe back to ~linear). Containment is
# then EXACT over the capped shingle vocabulary — declared
# semantics, mirrored in the oracle. Shingle hashing chains the
# shared mod-prime polynomial (llm/minhash.py), so every count is
# engine-exact.

_CONT_THETA_NUM, _CONT_THETA_DEN = 1, 2  # θ = 1/2, exact integer compare
_CONT_K = 5         # shingle width (words)
_CONT_MIN_SH = 5    # ignore docs with < 5 indexed shingles
_CONT_DF_CAP = 100  # stop-shingle document-frequency cap

# chained pair-combine per added word: acc = (acc * mult + h) % P
_CONT_MULTS = (31, 37, 41, 43)


def _containment_oracle() -> str:
    hashes = mh.sql_token_hashes(
        "list_filter(string_split(text, ' '), x -> len(x) > 0)"
    )
    comb = "h[CAST(i AS INT)]"
    for j, m in enumerate(_CONT_MULTS, start=1):
        comb = f"({comb} * {m} + h[CAST(i + {j} AS INT)]) % {mh.P}"
    return f"""
WITH hs AS (
  SELECT doc_id, {hashes} AS h FROM documents WHERE text IS NOT NULL
),
tg AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(h) - {_CONT_K - 1}, 0) + 1),
             i -> {comb}))) AS t
  FROM hs
),
df AS (SELECT t FROM tg GROUP BY t HAVING COUNT(*) <= {_CONT_DF_CAP}),
shf AS (SELECT tg.doc_id, tg.t FROM tg JOIN df USING (t)),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shf GROUP BY doc_id),
ov AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM shf a JOIN shf b ON a.t = b.t AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT ov.doc_a, ov.doc_b,
       sz.n AS n_shingles_a, ov.shared,
       CAST(ov.shared AS DOUBLE) / CAST(sz.n AS DOUBLE) AS containment
FROM ov JOIN sz ON ov.doc_a = sz.doc_id
WHERE sz.n >= {_CONT_MIN_SH}
  AND ov.shared * {_CONT_THETA_DEN} >= sz.n * {_CONT_THETA_NUM}
"""


@register("llm_dedup_containment", oracle=_containment_oracle())
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs C(A→B) ≥ ½ via a
    df-capped inverted 5-gram index (see the module comment above
    for the scale argument; the threshold compare is exact integer
    arithmetic, the reported ratio a mirrored double division)."""
    p = mh.P
    d = load_table(spark, sf_dir, "documents")
    # Shingle chains are built MAP-SIDE from each document's ordered
    # token-hash array (mirroring the oracle's list_transform), not
    # via window lead() over exploded (doc_id, pos) rows: that shape
    # cost an exchange + sort on (doc_id, pos) AND a (doc_id, t)
    # distinct exchange — array_distinct before the explode makes
    # per-doc shingles unique by construction, so the first shuffle
    # in the plan is now the df-cap aggregate itself. Same values:
    # the chain arithmetic and the shared char hash are unchanged.
    from delta_lake_play_spark.functions.fanout import fan_out

    # fan_out BEFORE the char-hash fold (functions/fanout.py): the
    # map-side shingle build inherits the scan's partitioning, and a
    # local single-file scan would hash every document on one core.
    base = fan_out(
        d.where(F.col("text").isNotNull()).select("doc_id", "text"),
        "doc_id",
    )
    # per-doc token→hash lookup map (own projection; see
    # mh.char_hash_map), then hashes attach per occurrence by lookup
    # — identical values, ~10× less char hashing on this corpus.
    toks = base.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: F.length(x) > 0).alias("tks"),
        mh.char_hash_map(F.col("text")).alias("__m"),
    )
    hs = toks.select(
        "doc_id",
        F.transform(
            F.col("tks"), lambda t: F.element_at(F.col("__m"), t)
        ).alias("h"),
    )

    def _chain(i):
        acc = F.element_at(F.col("h"), i)
        for j, m in enumerate(_CONT_MULTS, start=1):
            acc = (acc * m + F.element_at(F.col("h"), i + j)) % p
        return acc

    n_sh = F.greatest(F.size("h") - (_CONT_K - 1), F.lit(0))
    grams = F.when(
        n_sh >= 1, F.transform(F.sequence(F.lit(1), n_sh), _chain)
    ).otherwise(F.array().cast("array<bigint>"))
    tg = (
        hs.select("doc_id", F.explode(F.array_distinct(grams)).alias("t"))
        .persist()  # feeds the df filter AND both join sides
    )
    df_ok = tg.groupBy("t").count().where(F.col("count") <= _CONT_DF_CAP).select("t")
    shf = tg.join(df_ok, "t").persist()
    sz = shf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shf.select(F.col("doc_id").alias("doc_a"), "t")
    b = shf.select(F.col("doc_id").alias("doc_b"), "t")
    ov = (
        a.join(b, "t")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        ov.join(sz.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .where(
            (F.col("n") >= _CONT_MIN_SH)
            & (F.col("shared") * _CONT_THETA_DEN >= F.col("n") * _CONT_THETA_NUM)
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n").alias("n_shingles_a"),
            "shared",
            (F.col("shared").cast("double") / F.col("n").cast("double")).alias(
                "containment"
            ),
        )
    )
