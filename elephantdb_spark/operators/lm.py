"""Count-based n-gram language model: training and scoring.

The classic corpus-quality scorer (KenLM-style): train n-gram conditional
probabilities on a reference corpus, score candidate documents by average
log-probability, filter the tail. Extends the engine per the build brief
(the reference engine, nathanmarz/elephantdb, serves key/value only).

Scale shape: the MODEL is bounded by observed n-gram diversity (~vocab^n
but Zipf-truncated, « corpus — and `min_count` truncates it further), so
the planner broadcasts it into the scoring join while its size estimate
fits the session's broadcast threshold; the corpus is then scanned once
and never shuffles during scoring. Training is one explode + one
map-side-combinable count aggregation; the per-prefix totals ride a
window over the (model-sized, not corpus-sized) count table.

* :func:`train_ngram_lm` — (prefix, next_token, c, prob) with
  ``prob = c / count(prefix)`` as an exact IEEE double division of
  integers: cross-engine float-exact, so the trainer has an exact SQL
  oracle.
* :func:`lm_log2_likelihood` — per-document average log2 conditional
  probability under a trained model, out-of-vocabulary n-grams scored at
  ``oov_log2``. Uses libm ``log2`` (pytest-verified vs python; not
  SQL-oracle-hashable bit-for-bit — last-ulp libm divergence — so it is
  deliberately not a driver query; the trainer is).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elephantdb_spark.functions.text import tokens_col


def _lower_tokens(text: Column) -> Column:
    return F.transform(tokens_col(text), lambda t: F.lower(t))


def _ngram_pairs(toks: Column, n: int) -> Column:
    """Array of (prefix, next) structs: prefix = n-1 space-joined tokens,
    next = the following token. Docs shorter than n yield []."""
    sz = F.size(toks)
    return F.when(sz < n, F.array().cast("array<struct<prefix:string,next:string>>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), sz - n + 1),
            lambda i: F.struct(
                F.concat_ws(" ", F.slice(toks, i, n - 1)).alias("prefix"),
                F.element_at(toks, (i + n - 1).cast("int")).alias("next"),
            ),
        )
    )


def train_ngram_lm(
    df: DataFrame, text_col: str, n: int = 2, min_count: int = 1
) -> DataFrame:
    """Train an n-gram LM: returns (``prefix``, ``next_token``, ``c``,
    ``prob``) where ``prob = c / sum(c over prefix)``. Tokens are
    lowercased whitespace words. ``min_count`` prunes rare n-grams AFTER
    the denominator is fixed (probabilities stay consistent with the full
    counts; the pruned table just omits the tail).

    One explode + one map-side-combinable count; the per-prefix
    normalization windows over the count table, which is model-sized
    (n-gram diversity), not corpus-sized.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = df.select(_lower_tokens(F.col(text_col)).alias("__toks"))
    pairs = toks.select(F.explode(_ngram_pairs(F.col("__toks"), n)).alias("p"))
    counts = pairs.groupBy(
        F.col("p.prefix").alias("prefix"), F.col("p.next").alias("next_token")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("prefix")
    return (
        counts.withColumn(
            "prob", F.col("c").cast("double") / F.sum("c").over(w).cast("double")
        )
        .filter(F.col("c") >= min_count)
        .select("prefix", "next_token", "c", "prob")
    )


def lm_log2_likelihood(
    df: DataFrame,
    lm: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    oov_log2: float = -20.0,
) -> DataFrame:
    """Score documents under a trained n-gram LM: returns (``id_col``,
    ``n_ngrams``, ``avg_log2_prob``) — the average log2 conditional
    probability of the doc's n-grams, OOV n-grams at ``oov_log2``. Docs
    with fewer than ``n`` tokens are scored NULL (no n-grams).

    The planner picks the join from the model's size estimate: a
    pruned n-gram table under the session's
    ``autoBroadcastJoinThreshold`` broadcasts, a larger one
    shuffle-joins on (prefix, next_token). A model built in the same
    plan (:func:`train_ngram_lm`'s frame) is estimated at about its
    training corpus's size, however small the pruned table; score with
    a model read back from storage to have its real size behind the
    choice.
    """
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(_ngram_pairs(_lower_tokens(F.col(text_col)), n)).alias("p"),
    ).select(
        id_col, F.col("p.prefix").alias("prefix"), F.col("p.next").alias("next_token")
    )
    model = lm.select("prefix", "next_token", F.log2("prob").alias("__lp"))
    scored = exploded.join(model, ["prefix", "next_token"], "left").select(
        id_col,
        F.col("prefix").isNotNull().alias("__has"),
        F.when(F.col("prefix").isNull(), F.lit(None))
        .otherwise(F.coalesce(F.col("__lp"), F.lit(oov_log2)))
        .alias("__lp2"),
    )
    return scored.groupBy(id_col).agg(
        F.sum(F.col("__has").cast("long")).alias("n_ngrams"),
        F.avg("__lp2").alias("avg_log2_prob"),
    )
