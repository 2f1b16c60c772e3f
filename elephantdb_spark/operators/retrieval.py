"""Full-text retrieval over the corpus: BM25 ranked search.

The reference engine (nathanmarz/elephantdb) serves opaque key/value
pairs only (elephantdb-core/src/jvm/elephantdb/document/KeyValDocument.java:6-7);
ranked text retrieval extends the engine with the search surface a
training-data pipeline needs — "which documents match this probe query"
is how contamination audits, targeted corpus inspection, and eval-set
mining are actually run against a 100 TB corpus.

Design (Spark-first, one corpus scan):

* The query set is tiny by construction (human-authored probes), so every
  query-side frame — query terms, per-term document frequencies — rides a
  ``broadcast()`` join. The corpus is scanned exactly ONCE; only
  ``(doc, token, tf, dl)`` rows — bytes, not documents — reach the
  aggregation, and only tokens that appear in some query survive past the
  scan stage (the broadcast semi-join prunes the token stream before it
  touches an exchange).
* Document frequencies are computed over the *matched* tf frame (one
  row per (doc, token) by construction), which is pinned ONCE
  (:func:`~elephantdb_spark.pinning.pin`): a map-side-combinable
  ``groupBy(token)`` over the pinned tf yields the per-token df (tiny — only query
  tokens survive), broadcast back onto tf. A count window over token
  (the r18 shape) avoided the duplicate lineage too, but funneled every
  (doc, token) row of a hot query token into ONE window partition with
  no partial aggregation — a single corpus-sized task at 100 TB when a
  probe term is frequent (the §2.5 skew class the r18 VERDICT flagged
  on ``tfidf_topk``; same fix here). Ranking Q probe queries never
  builds the full inverted index (contrast :func:`~elephantdb_spark.
  operators.quality.inverted_index`, the index-build path); without
  ``corpus_stats`` the tokenized corpus frame is ALSO pinned, so
  the dl-stats aggregation reads the materialized token arrays instead
  of re-scanning and re-tokenizing the corpus — the corpus is read and
  tokenized exactly ONCE either way.
* Top-k is a single per-query ``row_number`` window on engines whose
  optimizer rewrites rank-limit filters to ``WindowGroupLimit``
  (Spark >= 3.5): the Partial-mode WindowGroupLimit prunes every map
  partition to its own top-k BEFORE the exchange, so the final window's
  input is bounded by ``k * n_map_partitions`` per query regardless of
  candidate count — the engine-native form of the salted pre-pass this
  operator carried through r18, without the extra exchange + two sorts
  the manual stage cost. When the rewrite is disabled (threshold < k or
  set to -1) the salted TWO-STAGE form is kept: a first window over
  ``(query_id, salt-bucket)`` cuts each query's candidate set to
  ``prefilter_buckets * k`` rows before the final per-query window
  (per-bucket top-k is a superset of the global top-k members in that
  bucket), because a bare window partitioned by 4 query_ids over a
  100 TB corpus would funnel all candidates into 4 tasks.
* Scores are summed in FIXED POINT: each term's BM25 contribution is
  floored to ``score_scale`` units and summed as a BIGINT, so the
  per-(query, doc) total is independent of Spark's partition-level
  addition order (float sums are not associative; integer sums are).
  This is the same order-invariance trick as
  :func:`~elephantdb_spark.operators.vectors.group_centroids`.

IDF modes:

* ``idf="lucene"`` (default) — ``ln(1 + (N - df + 0.5)/(df + 0.5))``,
  the standard Lucene/BM25+ form. ``ln`` is the one operation IEEE
  doubles do NOT guarantee bit-identical across engines (Java Math.log
  vs libm), so this mode is for users, not for the SQL oracle.
* ``idf="rational"`` — the raw Robertson–Spärck-Jones odds ratio
  ``(N - df + 0.5)/(df + 0.5)`` without the log. Every operation is
  +,-,*,/ on doubles derived from integers — bit-exact in every engine —
  so the DuckDB oracle matches the fixed-point score exactly (q79).
  Per-term rankings are identical to lucene mode (ln is monotone);
  multi-term totals weight rare terms more steeply.
"""

from __future__ import annotations

from pyspark.errors import SparkNoSuchElementException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from elephantdb_spark.functions.text import tokens_col
from elephantdb_spark.pinning import pin

#: Default fixed-point scale: micro-units keep six decimal digits of the
#: score while fitting ~9e12 term-contributions in a BIGINT sum.
DEFAULT_SCORE_SCALE = 1_000_000

#: Default salt-bucket count for the two-stage top-k (stage-2 input is
#: bounded by prefilter_buckets * k rows per query). Only used when the
#: engine's WindowGroupLimit rewrite is unavailable — see module docs.
DEFAULT_PREFILTER_BUCKETS = 32

#: Conf key for Spark's rank-limit window rewrite (>= 3.5): row_number
#: windows filtered to <= threshold get a Partial WindowGroupLimit per
#: map partition before the exchange; -1 disables the rewrite.
_WGL_THRESHOLD_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"


def _window_group_limit_active(spark, k: int) -> bool:
    """True when the session's optimizer will rewrite a row_number-limit
    filter of ``k`` into a pre-shuffle Partial WindowGroupLimit (which
    makes the manual salted top-k pre-stage redundant). Conservative: a
    conf the engine does not know, or a value that is not an integer,
    means "assume unavailable"; any other error propagates. The
    no-default ``conf.get`` is deliberate: ``get(key, fallback)`` returns
    the fallback whenever the conf is merely unset, hiding the registered
    engine default (1000); the no-default form resolves the effective
    value and throws only on engines that predate the rewrite."""
    try:
        thr = int(spark.conf.get(_WGL_THRESHOLD_CONF))
    except (SparkNoSuchElementException, TypeError, ValueError):
        return False
    return 0 < k <= thr


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "lucene",
    score_scale: int = DEFAULT_SCORE_SCALE,
    prefilter_buckets: int = DEFAULT_PREFILTER_BUCKETS,
    corpus_stats: "tuple[int, int] | None" = None,
    two_stage: "bool | None" = None,
) -> DataFrame:
    """Top-``k`` documents per query under BM25, whitespace-tokenized and
    lowercased (the :mod:`functions.text` tokenizer, matching
    ``inverted_index``).

    Returns ``(query_id, rank, doc_id, score)`` with ``rank`` 1-based by
    ``(score desc, doc_id asc)`` — the doc-id tiebreak makes the ranking
    fully deterministic. ``score`` is the fixed-point total re-scaled to
    a double (``sum(floor(term * scale)) / scale``): deterministic under
    any partitioning. Queries whose tokens match no document produce no
    rows. Empty/whitespace-only documents never match (dl = 0 ⇒ no
    token rows).

    ``corpus_stats``: optional precomputed ``(n_docs, total_dl)`` (see
    :func:`bm25_corpus_stats`). Without it the tokenized corpus frame is
    pinned (:func:`~elephantdb_spark.pinning.pin`, ~corpus-sized) so the
    dl-stats aggregation reads the token arrays instead of re-scanning
    and re-tokenizing the corpus. A serving deployment passes
    precomputed stats in, which both skips the pin entirely (no executor
    storage) and leaves a single streaming corpus pass.

    ``two_stage``: ``None`` (default) auto-selects the top-k shape —
    single per-query window when the engine's WindowGroupLimit rewrite
    bounds the window input per map partition (see module docs), else
    the salted two-stage form. ``True``/``False`` force a shape.
    """
    if idf not in ("lucene", "rational"):
        raise ValueError(f"idf must be 'lucene' or 'rational', got {idf!r}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if score_scale < 1 or prefilter_buckets < 1:
        raise ValueError("score_scale and prefilter_buckets must be >= 1")

    did = F.col(id_col)
    qid = F.col(qid_col)

    # query terms: tiny, distinct, lowercased — broadcast everywhere below
    qterms = queries.select(
        qid.alias("query_id"),
        F.explode(tokens_col(F.col(qtext_col))).alias("__t"),
    ).select("query_id", F.lower("__t").alias("token")).distinct()
    qtokens = qterms.select("token").distinct()

    # ONE corpus scan: doc length + matched-token stream. The broadcast
    # join prunes non-query tokens in the scan stage, before any shuffle.
    # The token array is materialized behind a projection boundary FIRST
    # (r18, guide §4.2/§7.2): size() and explode() live in different
    # physical operators (Project vs Generate), which per-operator
    # subexpression elimination cannot see across, so inlining the regex
    # split ran the whole-document tokenization TWICE per row — measured
    # 3.8 s → 0.6 s on the sf0.1 corpus pass alone (plans/r18). Without
    # precomputed corpus_stats the frame is ALSO pinned, so the
    # stats consumer below reads the materialized arrays instead of
    # re-running the scan + tokenization (r19; the pin is skipped
    # when stats are supplied — the plan then has one consumer and one
    # streaming pass, no executor storage).
    toks = tokens_col(F.col(text_col))
    base = docs.select(did.alias("doc_id"), toks.alias("__toks"))
    if corpus_stats is None:
        base = pin(base)
    dtok = base.select(
        "doc_id",
        F.size("__toks").cast("long").alias("dl"),
        F.explode("__toks").alias("__t"),
    ).select("doc_id", "dl", F.lower("__t").alias("token"))
    matched = dtok.join(F.broadcast(qtokens), "token")

    # corpus stats ride a 1-row broadcast cross join (no collect);
    # precomputed stats replace the stats subquery entirely
    if corpus_stats is not None:
        n_docs_v, total_dl_v = corpus_stats
        stats = docs.sparkSession.createDataFrame(
            [(int(n_docs_v), int(total_dl_v))], "n_docs long, total_dl long"
        )
    else:
        stats = base.select(F.size("__toks").cast("long").alias("__dl")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__dl").alias("total_dl"),
        )

    # tf per (doc, query-token): the only corpus-sized shuffle, and its
    # rows are (id, token, counts) — document text never leaves the scan.
    # tf is one row per (doc, token), so count-per-token over it IS the
    # df. It is pinned once and the df rides
    # a map-side-combinable groupBy(token) broadcast back onto tf: a
    # second aggregation consumer without the pin would recompute
    # tf's lineage and re-scan the corpus, and the r18 count-window form
    # put every row of a hot query token into one window partition (§2.5
    # skew; see module docs).
    tf = pin(
        matched.groupBy("doc_id", "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfc"))
    tf = tf.join(F.broadcast(dfreq), "token")

    n_d = F.col("n_docs").cast("double")
    df_d = F.col("dfc").cast("double")
    idf_rational = (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
    idf_col = F.log(F.lit(1.0) + idf_rational) if idf == "lucene" else idf_rational
    avgdl = F.col("total_dl").cast("double") / n_d
    tf_d = F.col("tf").cast("double")
    tfn = (tf_d * F.lit(k1 + 1.0)) / (
        tf_d
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
    )
    term_fp = F.floor(idf_col * tfn * F.lit(float(score_scale))).cast("long")

    scored = (
        tf.join(F.broadcast(qterms), "token")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", term_fp.alias("__fp"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__fp").alias("score_fp"))
    )

    # top-k: single per-query window when the engine pre-prunes map
    # partitions (WindowGroupLimit — see module docs); otherwise the
    # salted two-stage cut bounds the final window's input to
    # prefilter_buckets * k rows per query
    order = [F.col("score_fp").desc(), F.col("doc_id").asc()]
    if two_stage is None:
        two_stage = not _window_group_limit_active(docs.sparkSession, k)
    if two_stage:
        salt = F.pmod(F.xxhash64("doc_id"), F.lit(prefilter_buckets))
        local = Window.partitionBy("query_id", salt).orderBy(*order)
        pruned = (
            scored.withColumn("__rn", F.row_number().over(local))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    else:
        pruned = scored
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(final).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            (F.col("score_fp").cast("double") / F.lit(float(score_scale))).alias(
                "score"
            ),
        )
    )


def bm25_corpus_stats(docs: DataFrame, text_col: str) -> "tuple[int, int]":
    """One column-pruned corpus pass → ``(n_docs, total_dl)`` for
    :func:`bm25_topk`'s ``corpus_stats``. Compute once per corpus
    version (e.g. alongside an inverted-index build) and reuse across
    query batches — every reuse saves a full corpus tokenization pass."""
    row = (
        docs.select(F.size(tokens_col(F.col(text_col))).cast("long").alias("__dl"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__dl").alias("t"))
        .first()
    )
    return int(row["n"]), int(row["t"] or 0)
