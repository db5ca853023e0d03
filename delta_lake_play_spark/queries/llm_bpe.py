"""Distributed BPE tokenizer training (SURVEY.md §2 EXT — LLM
pipeline operators).

Byte-pair-encoding merge training is the canonical *iterative* corpus
job in an LLM data pipeline (Sennrich et al. 2016; the map-reduce
formulation is the standard scale-out): per merge step, count adjacent
symbol pairs across the corpus, pick the most frequent pair, fuse it
everywhere, repeat. The scale insight is that after the first word
count the iteration runs on the VOCABULARY (word, count) table — not
the corpus — so each of the N merge steps is one map-side-combined
aggregate over ~|vocab| rows plus one 1-row driver collect (the
argmax, same bounded driver loop as Lloyd iteration in
``llm_kmeans_train``).

Exact-parity trick (same discipline as the kmeans integer grid):
symbol sequences are kept as strings of ``<unit>``-wrapped symbols
(``"bpe" -> "<b><p><e>"``). A merge of pair (x, y) is then the literal
replacement ``"<x><y>" -> "<xy>"`` — non-overlapping left-to-right
replace has identical semantics in Spark (``F.replace``) and DuckDB
(``replace``), and the wrapper makes token boundaries unambiguous, so
greedy left-scan merging is bit-identical across engines and the whole
iterative algorithm hash-checks against an unrolled CTE oracle.

Reference scope note: the reference (nagi49000/delta-lake-play) has no
text pipeline; this extends the engine's LLM-curation surface
(SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.registry import register
from delta_lake_play_spark.sources.catalog import load_table

_BPE_MERGES = 6

_MERGE_SCHEMA = T.StructType(
    [
        T.StructField("step", T.IntegerType(), False),
        T.StructField("pair", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)

# Adjacent unit pairs of a wrapped seq, weighted later by word count.
# seq "<a><bc><d>" -> units [a, bc, d] -> pairs ["<a><bc>", "<bc><d>"].
_PAIRS_EXPR = """
zip_with(
  slice(units, 1, size(units) - 1),
  slice(units, 2, size(units) - 1),
  (a, b) -> concat('<', a, '><', b, '>')
)
"""


def _bpe_learn(
    spark: SparkSession, docs: DataFrame, text_col: str, n_merges: int
) -> tuple[list[Row], DataFrame]:
    """Run the merge-training loop; returns (merge log rows, the
    vocabulary table with all learned merges APPLIED — the input to
    tokenization)."""
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "seq",
            F.concat(
                F.lit("<"),
                F.array_join(F.split(F.col("word"), ""), "><"),
                F.lit(">"),
            ),
        )
        .select("seq", "cnt")
    )
    base = words.persist()
    words = base
    try:
        merges: list[Row] = []
        seq = F.col("seq")
        for step in range(1, n_merges + 1):
            best = (
                words.withColumn("units", F.expr(
                    "split(substring(seq, 2, length(seq) - 2), '><')"
                ))
                .select(F.explode(F.expr(_PAIRS_EXPR)).alias("pair"), "cnt")
                .groupBy("pair")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:  # degenerate corpus: nothing left to merge
                break
            pair, c = best[0]["pair"], int(best[0]["c"])
            merged = "<" + pair.replace("><", "").strip("<>") + ">"
            merges.append(Row(step=step, pair=pair, merged=merged, pair_count=c))
            words = words.withColumn(
                "seq", F.replace(seq, F.lit(pair), F.lit(merged))
            )
        # Materialize the merged vocabulary BEFORE the finally block
        # unpersists the base cache: bpe_apply_topk consumes this
        # DataFrame after _bpe_learn returns, and an unmaterialized
        # lineage would silently recompute the whole corpus word
        # count at apply time — breaking the "corpus text is read
        # exactly once" contract. localCheckpoint truncates the
        # lineage at vocabulary size (|vocab| rows, merge-log cost).
        return merges, words.localCheckpoint(eager=True)
    finally:
        base.unpersist()


def bpe_train(
    spark: SparkSession, docs: DataFrame, text_col: str, n_merges: int = _BPE_MERGES
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over ``docs[text_col]``; returns
    the merge log (step, pair, merged, pair_count) — the trained
    artifact, bounded at ``n_merges`` rows like a centroid table."""
    merges, _ = _bpe_learn(spark, docs, text_col, n_merges)
    return local_df(spark, merges, _MERGE_SCHEMA)


def bpe_apply_topk(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    n_merges: int = _BPE_MERGES,
    topk: int = 20,
) -> DataFrame:
    """Tokenize the corpus with the learned merges and return the
    top-k tokens by corpus frequency (ties on the token string). The
    apply step is free given training: the vocabulary table already
    holds fully merged sequences, so tokenization is one unit-split +
    explode + map-side-combined count over |vocab| rows, and the
    top-k is a TakeOrdered — corpus text is still read exactly once."""
    _, words = _bpe_learn(spark, docs, text_col, n_merges)
    return (
        words.withColumn(
            "units", F.expr("split(substring(seq, 2, length(seq) - 2), '><')")
        )
        .select(F.explode("units").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(topk)
    )


def _bpe_ctes(n_merges: int) -> tuple[list[str], list[str]]:
    """Shared unrolled-CTE scaffolding: returns (ctes, per-step best
    selects); ``w{n_merges}`` is the fully merged vocabulary."""
    pairs_from = (
        "SELECT cnt, '<' || units[d] || '><' || units[d + 1] || '>' AS pair "
        "FROM (SELECT cnt, units, generate_subscripts(units, 1) AS d, "
        "unnest(units) AS _u FROM (SELECT cnt, "
        "str_split(seq[2:length(seq)-1], '><') AS units FROM {src})) "
        "WHERE d < len(units)"
    )
    ctes = [
        "w0 AS MATERIALIZED (SELECT '<' || array_to_string(str_split(word, ''), '><') || '>' AS seq, "
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM ("
        "SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word "
        "FROM documents) GROUP BY word)"
    ]
    finals = []
    for i in range(1, n_merges + 1):
        src = f"w{i - 1}"
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS c FROM "
            f"({pairs_from.format(src=src)}) GROUP BY pair)"
        )
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT {i} AS step, pair, "
            "'<' || trim(replace(pair, '><', ''), '<>') || '>' AS merged, "
            f"c AS pair_count FROM p{i} ORDER BY c DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"w{i} AS MATERIALIZED (SELECT replace(seq, "
            f"coalesce((SELECT pair FROM b{i}), chr(1)), "
            f"coalesce((SELECT merged FROM b{i}), chr(1))) AS seq, cnt FROM {src})"
        )
        finals.append(f"SELECT CAST(step AS INTEGER) AS step, pair, merged, pair_count FROM b{i}")
    return ctes, finals


def _bpe_oracle(n_merges: int = _BPE_MERGES) -> str:
    """Unrolled DuckDB twin of the training loop: same tokenization,
    same wrapped-unit replace, same (count DESC, pair ASC) argmax."""
    ctes, finals = _bpe_ctes(n_merges)
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


def _bpe_apply_oracle(n_merges: int = _BPE_MERGES, topk: int = 20) -> str:
    """Unrolled twin of tokenization with the learned merges: unnest
    the fully merged vocabulary's units weighted by word count."""
    ctes, _ = _bpe_ctes(n_merges)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT token, CAST(SUM(cnt) AS BIGINT) AS n FROM ("
        f"SELECT unnest(str_split(seq[2:length(seq)-1], '><')) AS token, cnt "
        f"FROM w{n_merges}) GROUP BY token "
        f"ORDER BY n DESC, token LIMIT {topk}"
    )


@register("llm_bpe_train", oracle=_bpe_oracle())
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 6 BPE merges over the documents corpus. Plan per step:
    vocabulary-table pair explode → one map-side-combined hash
    aggregate → 1-row argmax collect; corpus text is read exactly
    once (the word count), so at 100 TB the iterations cost
    |vocab| × n_merges, not |corpus| × n_merges."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(spark, docs, "text", _BPE_MERGES)


@register("llm_bpe_apply", oracle=_bpe_apply_oracle())
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the 6 learned BPE merges and return
    the top-20 tokens by frequency — the train→apply round trip, all
    hash-checked. The apply pass is one unit-split + explode +
    map-side-combined count over the VOCABULARY table (corpus text is
    read once, by the word count) and a TakeOrdered top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_apply_topk(spark, docs, "text", _BPE_MERGES, topk=20)
