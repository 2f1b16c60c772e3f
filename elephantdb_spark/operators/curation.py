"""Corpus-curation operators: the filter/normalize/cap/encode stages an
LLM pre-training data pipeline runs between raw ingest and training-shard
export.

The reference engine serves opaque key/value bytes (KeyValDocument.java:6-7)
and leaves corpus preparation to the caller; these operators are the
mandated training-pipeline extensions (brief §extensions), built
deterministic-first so every stage has an exact cross-engine SQL oracle:

* :func:`normalize_text` — canonical whitespace/control-char cleanup as a
  fixed, ordered sequence of regex rewrites (:data:`NORMALIZATION_STEPS`).
  Pure scan-stage expression: zero shuffle, whole-stage codegen, and the
  identical RE2-compatible steps replay in DuckDB
  (:func:`duckdb_normalize_sql`).
* :func:`cap_per_source` — at most ``cap`` documents per source/domain,
  chosen by deterministic (md5, id) order. The 100 TB shape: hot domains
  are first thinned by a per-source hash threshold so the rank window
  never sorts a whole domain in one task; exactness is preserved by a
  counted fallback (see the function docstring).
* :func:`build_vocab` / :func:`encode_documents` — frequency vocabulary
  (the tokenizer artifact) and corpus → token-id encoding via a broadcast
  vocabulary join.
* :func:`gopher_filter` — named document-quality rules in the style of the
  Gopher/MassiveText heuristics (Rae et al. 2021, arXiv:2112.11446):
  word-count bounds, mean-word-length bounds, symbol-token ratio,
  alphabetic-word ratio, stopword evidence. All rules are array
  expressions over the whitespace tokenization — scan-stage, zero
  shuffle, no Python.

Scale notes: normalize/gopher/encode are rowwise (they pipeline into any
scan); vocab is one map-side-combinable count shuffle with a Zipf-bounded
result; cap_per_source shuffles only over-cap survivors (~cap rows per hot
source, not the source itself).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elephantdb_spark.functions.text import DEFAULT_STOPWORDS
from elephantdb_spark.operators.sampling import _HASH_SPACE, _md5_u32
from elephantdb_spark.pinning import pin

#: Ordered (pattern, replacement) regex rewrites applied by
#: :func:`normalize_text`. Patterns stay inside the common subset of Java
#: regex (Spark) and RE2 (DuckDB) so the oracle replays them verbatim;
#: replacements may contain literal newlines (the SQL twin emits chr(10)).
NORMALIZATION_STEPS: tuple[tuple[str, str], ...] = (
    # CRLF / bare CR -> LF first, so later newline rules see one form.
    (r"\r\n?", "\n"),
    # Strip C0 control chars (except \t and \n, handled next) and DEL.
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),
    # Collapse horizontal whitespace runs to a single space.
    (r"[ \t]+", " "),
    # Drop the (single, post-collapse) blank hugging a newline.
    (r" ?\n ?", "\n"),
    # At most one blank line in a row.
    (r"\n{3,}", "\n\n"),
    # Trim: ^/$ anchor the whole string (neither engine defaults to
    # multiline), so this is leading/trailing whitespace only.
    (r"^\s+|\s+$", ""),
)


def normalize_text_col(text: Column) -> Column:
    """The :data:`NORMALIZATION_STEPS` chain as a single Column expression.
    NULL stays NULL (regexp_replace propagates it) — callers that need a
    total function coalesce first."""
    out = text
    for pat, rep in NORMALIZATION_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def normalize_text(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Replace (or add) ``out_col`` with the normalized form of
    ``text_col``. Pure rowwise projection: no shuffle, stays in
    whole-stage codegen, pipelines into the scan at any corpus size."""
    return df.withColumn(out_col or text_col, normalize_text_col(F.col(text_col)))


def duckdb_normalize_sql(expr: str) -> str:
    """DuckDB expression replaying :data:`NORMALIZATION_STEPS` exactly
    (same patterns, global flag, chr(10) for literal newlines)."""
    out = expr
    for pat, rep in NORMALIZATION_STEPS:
        if rep == "":
            sql_rep = "''"
        else:
            parts = ["chr(10)" if ch == "\n" else f"'{ch}'" for ch in rep]
            sql_rep = " || ".join(parts)
        out = f"regexp_replace({out}, '{pat}', {sql_rep}, 'g')"
    return out


def cap_per_source(
    df: DataFrame,
    id_col: str,
    source_col: str,
    cap: int,
    salt: str = "",
    margin: float = 1.3,
    materialize_input: bool = False,
) -> DataFrame:
    """Keep at most ``cap`` rows per source, chosen deterministically: the
    ``cap`` smallest rows under (md5(id, salt), id) order. Same columns
    out as in; under-cap sources pass through byte-identical.

    Semantics match the obvious ``ROW_NUMBER() OVER (PARTITION BY source
    ORDER BY hash, id) <= cap`` — which is also the SQL oracle — but the
    plan is shaped for 100 TB, where a hot domain (half the crawl is one
    host) would serialize through a single rank-window task:

    1. Per-source counts (one map-side-combinable agg; output is one row
       per source, broadcastable).
    2. Sources with ``n <= cap`` skip ranking entirely — their rows never
       shuffle.
    3. Over-cap sources are thinned by a hash threshold keeping ~``margin
       * cap`` expected rows (``h < margin*cap/n * 2^32``), so the window
       sorts ~cap rows per source regardless of domain size.
    4. Exactness fallback: the thinned rows are re-counted; any source
       where fewer than ``cap`` survived (possible, rare — hash
       fluctuation) is ranked over ALL of its rows instead. Rows with the
       ``cap`` smallest (h, id) all satisfy ``h < t`` whenever >= cap rows
       do, so the threshold never changes the selected set.

    Rows with a NULL source pass through uncapped (the over-cap flag join
    is an equality join, and NULL = NULL is never true) — cap the NULLs
    too by coalescing the source column to a sentinel first.

    ``materialize_input``: the exactness machinery consumes ``df`` from
    four separate subtrees (counts, under/over split, survivors,
    fallback re-rank), and Spark re-executes the input's whole lineage
    per consumer — a non-trivial upstream (joins, regex normalization)
    runs 4×. ``True`` pins the input ONCE
    (:func:`~elephantdb_spark.pinning.pin`) so every branch reads the
    materialized blocks (~input-sized). Leave ``False`` (default) when the
    input is a bare scan or already pinned (q86 passes an
    already-pinned frame: a second copy would double the block storage
    for zero saved work).
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    if margin <= 1.0:
        raise ValueError(f"margin must exceed 1, got {margin}")
    if materialize_input:
        df = pin(df)
    cols = list(df.columns)
    h = _md5_u32(F.col(id_col), salt)
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    # One row per over-cap source — broadcast-sized by construction, and
    # referenced from two subtrees (the threshold flag join and the
    # fallback re-count); the pin runs the full-input counts aggregation
    # ONCE instead of once per consumer (r19).
    over = pin(counts.filter(F.col("__n") > cap))

    flagged = df.join(
        F.broadcast(over.withColumnRenamed(source_col, "__src").withColumn(
            "__thresh",
            F.least(
                F.lit(float(_HASH_SPACE)),
                F.lit(margin * cap) / F.col("__n") * F.lit(float(_HASH_SPACE)),
            ),
        )),
        F.col(source_col) == F.col("__src"),
        "left",
    )
    under_rows = flagged.filter(F.col("__src").isNull()).select(*cols)

    over_rows = flagged.filter(F.col("__src").isNotNull())
    survivors = over_rows.filter(h.cast("double") < F.col("__thresh")).select(*cols)
    surv_counts = survivors.groupBy(source_col).agg(F.count(F.lit(1)).alias("__sn"))
    # Sources where the threshold kept < cap rows rank over all their rows.
    # Broadcast-sized (subset of ``over``) and consumed by two joins; the
    # pin keeps its surv_counts lineage (a survivors-wide aggregation)
    # from re-executing per consumer (r19).
    fallback_srcs = pin(
        over.join(
            surv_counts.withColumnRenamed(source_col, "__src2"),
            F.col(source_col) == F.col("__src2"),
            "left",
        )
        .filter(F.coalesce(F.col("__sn"), F.lit(0)) < cap)
        .select(F.col(source_col).alias("__fsrc"))
    )

    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())

    def top_cap(rows: DataFrame) -> DataFrame:
        return (
            rows.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= cap)
            .select(*cols)
        )

    surv_flagged = survivors.join(
        F.broadcast(fallback_srcs), F.col(source_col) == F.col("__fsrc"), "left"
    )
    ranked_surv = top_cap(surv_flagged.filter(F.col("__fsrc").isNull()).select(*cols))
    fb_rows = over_rows.join(
        F.broadcast(fallback_srcs), F.col(source_col) == F.col("__fsrc"), "left"
    ).filter(F.col("__fsrc").isNotNull()).select(*cols)
    ranked_fb = top_cap(fb_rows)

    return under_rows.unionByName(ranked_surv).unionByName(ranked_fb)


def _clean_tokens(text: Column) -> Column:
    """Non-empty whitespace tokens (the corpus-wide tokenization
    convention — functions/text.tokens_col without the trim dependency on
    non-NULL input)."""
    return F.filter(
        F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+"),
        lambda t: t != F.lit(""),
    )


def build_vocab(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Frequency vocabulary over the whitespace tokenization: one row per
    kept token with a dense 1-based ``token_id`` assigned by (count DESC,
    token ASC) — deterministic across runs, engines, and cluster sizes.

    Returns (token, token_id, count). One map-side-combinable count
    shuffle over (token) — token-frequency skew is absorbed by the partial
    aggregation, a hot token is one combiner cell per map task, never a
    hot shuffle partition. The id-assignment window is unpartitioned BY
    DESIGN: its input is the vocabulary, not the corpus, and is bounded by
    ``max_size`` (or Zipf + ``min_count``) — millions of rows through one
    task, the standard tokenizer-artifact scale, not 100 TB.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = _clean_tokens(F.col(text_col))
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    order = [F.col("count").desc(), F.col("token").asc()]
    if max_size is not None:
        if max_size < 1:
            raise ValueError(f"max_size must be >= 1, got {max_size}")
        counts = counts.orderBy(*order).limit(max_size)
    w = Window.orderBy(*order)
    return counts.select(
        "token", F.row_number().over(w).cast("int").alias("token_id"), "count"
    )


def encode_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    oov_id: int = 0,
) -> DataFrame:
    """Encode each document as (id, pos, token_id) rows: position is the
    0-based index into the document's non-empty whitespace tokens; unknown
    tokens get ``oov_id``.

    The vocabulary joins broadcast (it is bounded — see
    :func:`build_vocab`), so encoding is a rowwise explode + broadcast
    hash join: the corpus never shuffles, and the output is the exploded
    training-token stream ready for :func:`~.sampling.pack_sequences`.
    """
    toks = _clean_tokens(F.col(text_col))
    exploded = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "token")
    )
    return (
        exploded.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("pos"),
            F.coalesce(F.col("token_id"), F.lit(oov_id)).cast("int").alias("token_id"),
        )
    )


#: Gopher-style rule defaults (Rae et al. 2021 table A1, adapted to the
#: whitespace tokenization; the word-count floor is lowered from 50 so the
#: synthetic short-document corpus exercises both rule outcomes).
GOPHER_DEFAULTS = {
    "min_words": 40,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "min_alpha_word_ratio": 0.8,
    "min_stopword_hits": 2,
}


def gopher_rule_cols_from_tokens(
    toks: Column,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    **thresholds: float,
) -> dict[str, Column]:
    """:func:`gopher_rule_cols` over an already-materialized clean-token
    array column (r18): the rule set references the token array ~8 times
    (size, three filter lambdas, an aggregate fold), and expression
    references across operators / inside higher-order lambdas are never
    CSE'd — inlining ``_clean_tokens(text)`` re-ran the regex
    tokenization once per reference. Materialize the array behind a
    projection boundary and feed it here; :func:`gopher_rule_cols` keeps
    the inline convenience form."""
    cfg = dict(GOPHER_DEFAULTS)
    unknown = set(thresholds) - set(cfg)
    if unknown:
        raise ValueError(f"unknown thresholds: {sorted(unknown)}")
    cfg.update(thresholds)

    n = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_symbol = F.size(F.filter(toks, lambda t: t.startswith("#") | t.contains("...")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))

    nonempty = n > 0
    mean_len = F.when(nonempty, total_len / n)
    symbol_ratio = F.when(nonempty, n_symbol / n)
    alpha_ratio = F.when(nonempty, n_alpha / n)

    r_count = (n >= F.lit(cfg["min_words"])) & (n <= F.lit(cfg["max_words"]))
    r_mean = F.coalesce(
        (mean_len >= F.lit(cfg["min_mean_word_len"]))
        & (mean_len <= F.lit(cfg["max_mean_word_len"])),
        F.lit(False),
    )
    r_sym = F.coalesce(symbol_ratio <= F.lit(cfg["max_symbol_ratio"]), F.lit(False))
    r_alpha = F.coalesce(
        alpha_ratio >= F.lit(cfg["min_alpha_word_ratio"]), F.lit(False)
    )
    r_stop = n_stop >= F.lit(cfg["min_stopword_hits"])

    return {
        "n_words": n.cast("int"),
        "rule_word_count": r_count,
        "rule_mean_word_len": r_mean,
        "rule_symbol_ratio": r_sym,
        "rule_alpha_words": r_alpha,
        "rule_stopwords": r_stop,
        "kept": r_count & r_mean & r_sym & r_alpha & r_stop,
    }


def gopher_rule_cols(
    text: Column,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    **thresholds: float,
) -> dict[str, Column]:
    """The Gopher rules as reusable Column expressions over a text column:
    ``{"n_words", "rule_*", "kept"}``. Pure scan-stage expressions — this
    is what lets :func:`gopher_filter` (batch) and
    ``streaming.pipeline.clean_stream`` (continuous) share one rule
    definition with zero drift. Consumers that can add a projection
    boundary should materialize ``_clean_tokens(text)`` once and use
    :func:`gopher_rule_cols_from_tokens` instead (r18 — the inline form
    re-tokenizes per rule reference)."""
    return gopher_rule_cols_from_tokens(
        _clean_tokens(text), stopwords=stopwords, **thresholds
    )


def gopher_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    **thresholds: float,
) -> DataFrame:
    """Named document-quality rules (Gopher/MassiveText heuristics): emits
    one row per document with ``n_words``, one boolean per rule, and
    ``kept`` (the conjunction). Keep the verdicts, not just the filtered
    corpus — rule-level pass rates are the knob-tuning report every
    curation run needs.

    All rules are expressions over the token array: scan-stage, zero
    shuffle, zero Python, so the filter is free at any corpus size.

    Rules (thresholds overridable by keyword, defaults in
    :data:`GOPHER_DEFAULTS`):

    * ``rule_word_count`` — ``min_words <= n_words <= max_words``.
    * ``rule_mean_word_len`` — mean token length in
      ``[min_mean_word_len, max_mean_word_len]``.
    * ``rule_symbol_ratio`` — fraction of tokens that are hash-tags or
      contain an ellipsis is ``<= max_symbol_ratio``.
    * ``rule_alpha_words`` — fraction of tokens containing an ASCII letter
      is ``>= min_alpha_word_ratio``.
    * ``rule_stopwords`` — at least ``min_stopword_hits`` stopword tokens
      (lowercased exact match).

    Empty documents fail every rule.
    """
    # tokenize once behind a projection boundary (r18): the rule set
    # references the token array ~8 times, and inline references re-ran
    # the regex split per reference (see gopher_rule_cols_from_tokens)
    toked = df.select(
        F.col(id_col), _clean_tokens(F.col(text_col)).alias("__gf_toks")
    )
    cols = gopher_rule_cols_from_tokens(
        F.col("__gf_toks"), stopwords=stopwords, **thresholds
    )
    return toked.select(
        F.col(id_col), *[expr.alias(name) for name, expr in cols.items()]
    )
