"""Deduplication operators for 100 TB-scale corpora.

Four tiers, cheapest to most precise, all shuffle-aware:

* :func:`exact_dedup` — hash group-by on the dedup key (one shuffle; at
  scale group on a digest of the text, not the text itself, so shuffle rows
  stay small).
* :func:`jaccard_shingle_pairs` — exact n-gram Jaccard via shingle
  inverted-index self-join. Quadratic in bucket size; the `max_shingle_freq`
  cut drops degenerate high-frequency shingles (the classic hot-key guard).
* :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH bucket join:
  the scale path. Candidates ∝ true near-dups, not corpus².
* :func:`simhash_fingerprints` / :func:`simhash_neardup_pairs` — 64-bit
  SimHash with banded hamming-distance candidate generation.

Everything is built-in expressions (xxhash64, explode, groupBy, bit ops) —
no Python in the per-row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from elephantdb_spark.functions.text import tokens_col
from elephantdb_spark.pinning import pin


#: Seed of the second digest half in :func:`digest128` (two independently
#: seeded xxhash64 halves ≈ a 128-bit digest: birthday collision odds stay
#: negligible even at 10^10 documents, where a single 64-bit hash would
#: already collide).
_DIGEST_SEED = 1


def digest128(*cols):
    """The engine's canonical 128-bit composite digest: two
    independently seeded ``xxhash64`` halves over identical inputs
    (seeds 0 and :data:`_DIGEST_SEED`), returned as a ``(d0, d1)``
    column pair.  Every digest-keyed path — :func:`exact_dedup`, the
    :func:`jaccard_shingle_pairs` shingle join, the dedup-history
    domain key, the streaming dedup gate — derives through here (r18
    ADVICE: one shared helper keeps the collision story centralized).
    """
    return F.xxhash64(*cols), F.xxhash64(*cols, F.lit(_DIGEST_SEED))


def digest128_null_safe(cols: "list[str]"):
    """:func:`digest128` with per-column null indicators mixed in:
    Spark's hash functions SKIP null inputs, so ``(NULL, x)`` and
    ``(x, NULL)`` would otherwise collide."""
    mix = []
    for c in cols:
        mix.extend([F.col(c), F.col(c).isNull()])
    return digest128(*mix)


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str, digest: bool = True
) -> DataFrame:
    """Exact dedup: one row per distinct key, keeping the smallest id.

    Returns (``*key_cols``, ``keep_id``, ``n_dups``). Single
    map-side-combinable shuffle.

    ``digest=True`` (default) groups on a 128-bit composite digest of the
    key columns (two independently-seeded xxhash64 halves) instead of the
    raw values: grouping a 100 TB corpus directly on document text makes
    every shuffle-key comparison and hash a full-text scan, while the
    digest key is 16 fixed bytes. The key columns still come back in the
    output (each group's values are identical, so ``min`` recovers them),
    but they ride as map-side-combined aggregation state — one value per
    distinct key per map task — not as the exchange's sort/group key.
    Per-column null indicators are mixed into the digest because Spark's
    hash functions skip NULL inputs (``(NULL, x)`` and ``(x, NULL)`` would
    otherwise collide). ``digest=False`` keeps byte-exact grouping for
    collision-paranoid callers.
    """
    aggs = [
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    ]
    if not digest:
        return df.groupBy(*key_cols).agg(*aggs)
    d0, d1 = digest128_null_safe(key_cols)
    return (
        df.groupBy(d0.alias("__d0"), d1.alias("__d1"))
        .agg(*[F.min(c).alias(c) for c in key_cols], *aggs)
        .select(*key_cols, "keep_id", "n_dups")
    )


def _md5_long_col(col, seed: int | None = None):
    """Signed int64 from the high 64 bits of ``md5(col [ || ':seed' ])`` —
    byte-exact DuckDB parity via an unsigned-decimal → signed wrap (the
    hex high half is interpreted as an unsigned 64-bit value, then
    wrapped to signed). ``sharding.md5_mod_col`` used the same decimal
    trick until r6; it is now 3-chunk long arithmetic because it mods by
    a small n — here the full 64-bit value is the OUTPUT, so it cannot
    be chunk-composed and the decimal form stays.
    Slower than xxhash64 (md5 + base conversion per value) but
    SQL-replicable: the oracle mode for the signature pipelines. The
    seed suffix is fixed per permutation, so within a permutation two
    inputs collide iff the strings are equal."""
    if seed is not None:
        col = F.concat(col, F.lit(f":{seed}"))
    d = F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")
    two63 = F.lit(str(1 << 63)).cast("decimal(20,0)")
    two64 = F.lit(str(1 << 64)).cast("decimal(21,0)")
    return F.when(d >= two63, d - two64).otherwise(d).cast("long")


def _signature_hash(col, seed: int | None, hash_fn: str):
    """The per-permutation signature hash: ``xxhash64`` (default, fastest,
    engine-specific) or ``md5`` (DuckDB-replicable oracle mode)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))
    if hash_fn == "md5":
        return _md5_long_col(col, seed)
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def _shingles_from_tokens(toks, shingle_len: int):
    """Distinct word n-gram shingles from a (materialized) token array."""
    n = F.size(toks)
    # NB: Spark's sequence(1, stop) with stop < 1 yields a DESCENDING [1, 0]
    # — guard the too-short case explicitly.
    sh = F.when(n < shingle_len, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - shingle_len + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_len)),
        )
    )
    return F.array_distinct(sh)


def _shingle_index(
    df: DataFrame, id_col: str, text_col: str, shingle_len: int
) -> DataFrame:
    # Materialize the token array behind a projection boundary FIRST:
    # expressions inside higher-order lambdas are not CSE'd, so inlining the
    # regex split would re-tokenize the text once per shingle (O(tokens²)
    # regex work per doc — measured 5-10x slower at sf0.1).
    # tokens_col guards empty/whitespace-only text (split('') is [''],
    # which would give every blank doc the same '' shingle and pair them
    # all up as near-duplicates)
    toks = df.select(
        F.col(id_col).alias("doc"),
        tokens_col(F.col(text_col)).alias("__toks"),
    )
    return toks.select(
        "doc",
        F.explode(_shingles_from_tokens(F.col("__toks"), shingle_len)).alias("shingle"),
    )


#: Default hot-shingle cut: a shingle shared by more docs than this is
#: dropped before any self-join. Each surviving shingle contributes at most
#: DEFAULT_MAX_SHINGLE_FREQ² candidate pairs, so one boilerplate phrase can
#: never make the join quadratic in the corpus. Finite BY DEFAULT — the
#: guard being opt-in is exactly how it ends up off at 100 TB. Pass None to
#: disable (oracle-parity / tiny-corpus use only).
DEFAULT_MAX_SHINGLE_FREQ = 1000


def _drop_hot_shingles(inv: DataFrame, max_shingle_freq: int) -> DataFrame:
    """Anti-join out shingles present in more than ``max_shingle_freq``
    docs. The hot-shingle set is tiny by construction (heavy hitters), so
    it broadcasts."""
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("f"))
    return inv.join(
        F.broadcast(freq.filter(F.col("f") > max_shingle_freq)),
        "shingle",
        "left_anti",
    )


def jaccard_shingle_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Exact near-duplicate pairs by word-shingle Jaccard similarity.

    Returns (a, b, jaccard) with a < b and jaccard >= threshold.

    ``max_shingle_freq`` (finite by default) drops shingles shared by more
    than that many docs before the self-join — the skew guard that keeps
    the join from exploding on boilerplate shingles at scale. Metric
    semantics when the cut is active: doc sizes (union denominators) are
    computed from the UNFILTERED index, so ``jaccard`` is
    ``|A∩B minus hot shingles| / |A∪B|`` — a lower bound on true Jaccard
    that never counts boilerplate as similarity. Pairs whose overlap is
    pure boilerplate score 0; below the cut the metric is exact Jaccard.
    The shingle index consumed by the sizes/self-join branches is pinned
    (:func:`~elephantdb_spark.pinning.pin`).

    Scale shape (r18, guide §2.3): the self-join keys on a 128-bit
    shingle DIGEST (two seeded xxhash64 halves — the :func:`exact_dedup`
    collision story: negligible at any real corpus size), not the
    shingle string, so the exchange carries 16 fixed bytes per posting
    and the join/groupBy compare longs instead of strings (~1.2× faster
    at sf0.1, identical pairs; shuffle bytes shrink further with longer
    shingles). The pinned index holds digests only — smaller blocks,
    and the string never rides an exchange.
    """
    inv = _shingle_index(df, id_col, text_col, shingle_len)
    s0, s1 = digest128(F.col("shingle"))
    inv = pin(inv.select("doc", s0.alias("__s0"), s1.alias("__s1")))
    # sizes from the unfiltered index: the denominator stays |A ∪ B| even
    # when the hot-shingle cut shrinks the intersection (ADVICE r1)
    sizes = inv.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    if max_shingle_freq is not None:
        freq = inv.groupBy("__s0", "__s1").agg(F.count(F.lit(1)).alias("f"))
        inv = inv.join(
            F.broadcast(freq.filter(F.col("f") > max_shingle_freq)),
            ["__s0", "__s1"],
            "left_anti",
        )
    a = inv.select(F.col("doc").alias("a"), "__s0", "__s1")
    b = inv.select(F.col("doc").alias("b"), "__s0", "__s1")
    inter = (
        a.join(b, ["__s0", "__s1"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def hot_shingle_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    top_n: int = 100,
) -> DataFrame:
    """The boilerplate report: the ``top_n`` most widely shared shingles
    with their document frequencies — the empirical input for choosing
    ``max_shingle_freq`` (and for finding template text worth stripping
    upstream). Returns (``shingle``, ``doc_freq``) ordered by
    (doc_freq desc, shingle asc).

    One map-side-combinable count on the shingle plus a top-n — the
    report is heavy-hitter-sized output from a single index scan, safe at
    any corpus size (this is the read side of the same index every
    near-dup detector already builds).
    """
    if top_n <= 0:
        raise ValueError(f"top_n must be positive, got {top_n}")
    inv = _shingle_index(df, id_col, text_col, shingle_len)
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))
    return freq.orderBy(F.col("doc_freq").desc(), F.col("shingle").asc()).limit(top_n)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    shingle_len: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: for permutation i, the min of
    ``hash(shingle, i)`` over the doc's shingles — num_perm aggregates
    in one pass over the exploded shingle index (single shuffle).
    ``hash_fn='md5'`` swaps the permutation hash for the DuckDB-replicable
    md5 high half (see :func:`_md5_long_col`) so the whole signature
    pipeline becomes SQL-oracle-able; xxhash64 stays the fast default."""
    inv = _shingle_index(df, id_col, text_col, shingle_len)
    aggs = [
        F.min(_signature_hash(F.col("shingle"), i, hash_fn)).alias(f"mh{i}")
        for i in range(num_perm)
    ]
    return inv.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with exact
    Jaccard. The LSH bucket join generates candidates proportional to the
    number of true near-dups; the verification join is only over those.

    Returns (a, b, jaccard) with a < b, jaccard >= threshold.

    ``max_shingle_freq`` (finite by default, same guard as
    :func:`jaccard_shingle_pairs`) drops boilerplate shingles before BOTH
    the signature pass and the verification join: without it a phrase
    shared corpus-wide floods every signature band (candidate blow-up) and
    re-explodes in the verify join. Sizes stay unfiltered, so the verified
    ``jaccard`` is the same boilerplate-discounting lower bound as in
    :func:`jaccard_shingle_pairs`.

    The exploded shingle index, which both the signature pass and the
    verification join consume, is pinned
    (:func:`~elephantdb_spark.pinning.pin`) — without it the shingle
    explode runs twice (measured 1.7x slower at sf0.1). At extreme scale
    write the index to a table instead and pass it through.

    ``hash_fn='md5'`` makes every stage DuckDB-replicable (oracle mode):
    the permutation hash becomes the md5 high half and the LSH bucket key
    becomes the band's raw min-vector (a joined string) instead of its
    xxhash64 — candidates are then EXACTLY band-vector equality, with no
    engine-specific band-hash collisions for the oracle to miss.
    """
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    rows_per_band = num_perm // bands
    inv = pin(_shingle_index(df, id_col, text_col, shingle_len))
    # sizes from the unfiltered index (see jaccard_shingle_pairs)
    sizes = inv.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    if max_shingle_freq is not None:
        inv = _drop_hot_shingles(inv, max_shingle_freq)
    aggs = [
        F.min(_signature_hash(F.col("shingle"), i, hash_fn)).alias(f"mh{i}")
        for i in range(num_perm)
    ]
    sigs = inv.groupBy("doc").agg(*aggs)

    def band_key(b: int):
        vals = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn == "md5":
            # oracle mode: the raw vector IS the key (exact band equality)
            return F.concat_ws(",", *[v.cast("string") for v in vals])
        return F.xxhash64(*vals, F.lit(b))

    band_cols = [band_key(b).alias(f"band{b}") for b in range(bands)]
    banded = sigs.select("doc", *band_cols)
    bucket = banded.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bh"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bh")
    left = bucket.select(F.col("doc").alias("a"), "band", "bh")
    right = bucket.select(F.col("doc").alias("b"), "band", "bh")
    candidates = (
        left.join(right, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # verify candidates with exact Jaccard over the same (guarded) index
    inter = (
        candidates.join(inv.withColumnRenamed("doc", "a"), "a")
        .join(inv.withColumnRenamed("doc", "b"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def strip_duplicate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_line_docs: int = 2,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the C4/RefinedWeb cleaning
    step): delete every line whose trimmed form appears in more than
    ``max_line_docs`` distinct documents, preserving the remaining lines'
    order and original bytes. Returns (``id_col``, ``text_col``,
    ``n_lines_removed``) — one row per input document (a document whose
    every line is boilerplate comes back with empty text).

    Whitespace-only lines are formatting, not boilerplate: they are never
    counted or removed.

    Scale shape: the line-frequency count and the hot-line anti-join key
    on a 128-bit digest of the trimmed line (two seeded xxhash64 halves,
    same rule as :func:`exact_dedup`) so the shuffle carries 16-byte
    keys, never line text; the hot set is heavy-hitter-sized and
    broadcasts (``broadcast_hot=False`` falls back to a shuffled
    anti-join for pathological thresholds). Reassembly aggregates only a
    document's OWN lines — state is bounded by document size. Internal
    hashing never leaks into the output, so the operator stays
    SQL-oracle-able end to end.
    """
    if max_line_docs < 1:
        raise ValueError(f"max_line_docs must be >= 1, got {max_line_docs}")
    norm = F.trim(F.col("line"))
    # NULL text coalesces to '' so the document still explodes to one
    # (blank, never-hot) line and keeps its one-row-per-input contract —
    # split(NULL) would posexplode to zero rows and silently drop the doc
    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).withColumn("__d0", F.xxhash64(norm)).withColumn(
        "__d1", F.xxhash64(norm, F.lit(_DIGEST_SEED))
    ).withColumn("__blank", norm == "")
    hot = (
        lines.filter(~F.col("__blank"))
        .select("__doc", "__d0", "__d1")
        .distinct()
        .groupBy("__d0", "__d1")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .filter(F.col("__docs") > max_line_docs)
        .select("__d0", "__d1")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    # blank lines bypass the anti-join (they are never counted, so they
    # can never be hot — and must survive even if their digest collides)
    kept = lines.filter(~F.col("__blank")).join(
        hot, ["__d0", "__d1"], "left_anti"
    ).unionByName(lines.filter(F.col("__blank")))
    rebuilt = kept.groupBy("__doc").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("__clean"),
        F.count(F.lit(1)).alias("__kept"),
    )
    # per-doc line totals from the SAME exploded frame (co-partitioned
    # with the reassembly on __doc) rather than joining back to df — the
    # original text would otherwise ride a second corpus-wide exchange
    # just to count its lines and catch all-boilerplate docs
    totals = lines.groupBy("__doc").agg(F.count(F.lit(1)).alias("__total"))
    return totals.join(rebuilt, "__doc", "left").select(
        F.col("__doc").alias(id_col),
        F.coalesce(F.col("__clean"), F.lit("")).alias(text_col),
        (F.col("__total") - F.coalesce(F.col("__kept"), F.lit(0)))
        .cast("long")
        .alias("n_lines_removed"),
    )


def repeated_span_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_chars: int = 40,
    stride: int = 20,
    max_gram_docs: int = 1,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Cross-document repeated-substring detection — the strided char-gram
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): slide a ``gram_chars`` window with ``stride`` over
    each document, count the DISTINCT documents containing each gram, and
    report per document how many of its spans are shared with other
    documents. Catches copied passages that line-level dedup
    (:func:`strip_duplicate_lines`) misses when line boundaries differ.

    Returns (``id_col``, ``n_spans``, ``n_hot_spans``, ``hot_frac``) —
    a span is hot when its gram appears in more than ``max_gram_docs``
    distinct documents. A document shorter than ``gram_chars`` yields one
    span (its whole text), so every input document gets a verdict row;
    ``hot_frac`` is the exact small-integer ratio (identical doubles in
    every engine).

    Scale shape: spans shuffle as 16-byte digests (the
    :func:`exact_dedup` two-halves rule) — gram text never rides an
    exchange; the hot-gram set is bounded by actual cross-document
    duplication and broadcasts back (``broadcast_hot=False`` falls back
    to a shuffled join); the per-document tally aggregates only the
    document's own spans. One digest-count shuffle + one tally shuffle.
    """
    if gram_chars < 1 or stride < 1:
        raise ValueError("gram_chars and stride must be >= 1")
    if max_gram_docs < 1:
        raise ValueError(f"max_gram_docs must be >= 1, got {max_gram_docs}")
    text = F.coalesce(F.col(text_col), F.lit(""))
    offsets = F.sequence(
        F.lit(0),
        F.greatest(F.length(text) - F.lit(gram_chars), F.lit(0)),
        F.lit(stride),
    )
    # Digests-only by construction (~24 B/span: doc + two hash halves),
    # and consumed by TWO subtrees (hot-gram count, per-doc tally) — the
    # pin runs the corpus explode + per-span double xxhash64 ONCE instead
    # of once per consumer. Measured 1.18x on the interleaved sf0.1 A/B
    # (r19); the stored frame is ~gram_chars/stride x corpus bytes of
    # executor MEMORY_AND_DISK blocks (see elephantdb_spark.pinning).
    spans = pin(
        df.select(F.col(id_col).alias("__doc"), text.alias("__t"), F.explode(offsets).alias("off"))
        .select(
            "__doc",
            F.xxhash64(F.col("__t").substr(F.col("off") + 1, F.lit(gram_chars))).alias("__d0"),
            F.xxhash64(
                F.col("__t").substr(F.col("off") + 1, F.lit(gram_chars)),
                F.lit(_DIGEST_SEED),
            ).alias("__d1"),
        )
    )
    hot = (
        spans.distinct()
        .groupBy("__d0", "__d1")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .filter(F.col("__docs") > max_gram_docs)
        .select("__d0", "__d1", F.lit(True).alias("__hot"))
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    flagged = spans.join(hot, ["__d0", "__d1"], "left")
    n_spans = F.count(F.lit(1))
    n_hot = F.sum(F.col("__hot").isNotNull().cast("long"))
    return flagged.groupBy("__doc").agg(
        n_spans.cast("long").alias("n_spans"),
        n_hot.cast("long").alias("n_hot_spans"),
    ).select(
        F.col("__doc").alias(id_col),
        "n_spans",
        "n_hot_spans",
        (F.col("n_hot_spans").cast("double") / F.col("n_spans").cast("double")).alias(
            "hot_frac"
        ),
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 1,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: per bit position, sum ±1 over the
    distinct token/shingle hashes; bit set iff the sum is positive.
    Expressed as 64 conditional aggregates over the exploded index —
    map-side combinable, single shuffle. ``hash_fn='md5'`` swaps the
    feature hash for the DuckDB-replicable md5 high half (oracle mode).

    The feature hash is materialized ONCE behind a projection boundary
    (r18): all 64 bit-test aggregates reference it, and duplicating the
    hash expression into each aggregate made the generated update code
    64× larger — measured 9.5 s → 4.2 s on the first (compilation-heavy)
    run at sf0.1, identical fingerprints."""
    inv = _shingle_index(df, id_col, text_col, shingle_len)
    inv = inv.select(
        "doc", _signature_hash(F.col("shingle"), None, hash_fn).alias("__h")
    )
    h = F.col("__h")
    aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(64)
    ]
    sums = inv.groupBy("doc").agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(64):
        fp = fp + F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long") * F.lit(2 ** i if i < 63 else -(2 ** 63))).otherwise(F.lit(0).cast("long"))
    return sums.select("doc", fp.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    shingle_len: int = 1,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming, candidates
    from banded 16-bit chunks (pigeonhole: distance <= bands-1 guarantees an
    equal band; with bands=4, distance <= 3 is exact, larger is recall<1)."""
    fps = simhash_fingerprints(df, id_col, text_col, shingle_len, hash_fn)
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = fps.select(
        "doc",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("chunk"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc", "simhash", "bb.band", "bb.chunk")
    left = chunks.select(F.col("doc").alias("a"), F.col("simhash").alias("fa"), "band", "chunk")
    right = chunks.select(F.col("doc").alias("b"), F.col("simhash").alias("fb"), "band", "chunk")
    return (
        left.join(right, ["band", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
