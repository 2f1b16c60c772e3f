"""Incremental NEAR-duplicate filtering against a persisted MinHash
signature history — the fuzzy analogue of :mod:`~elephantdb_spark.operators.history`.

``operators.history`` answers "have I seen EXACTLY this content?" against
everything ever ingested at O(batch) cost. A production crawl pipeline
also needs the fuzzy form — "have I seen content *this similar*?" — and
the one-shot operators (:func:`~elephantdb_spark.operators.dedup.
minhash_lsh_pairs`) can't answer it without rescanning all history. This
module persists the corpus's MinHash state in the engine's own KV
machinery (A17 versioned publish, A20 incremental copy-forward —
reference: elephantdb-core/src/jvm/elephantdb/store/VersionedStore.java:102-108,
DomainStore.java:156-180) and probes it batch-at-a-time:

State = two KV domains under one root, versions moving in lockstep:

* ``root/bands`` — LSH band-vector key → the band's MEMBER BUCKET: the
  newline-joined, string-sorted doc ids sharing that band vector, capped
  at the ``max_bucket`` smallest (ADVICE r6: a single stored
  representative silently unflagged batch docs whose true match was a
  non-representative bucket member). The cap makes the bucket an
  order-independent bounded set union — "the ``max_bucket``
  string-smallest ids ever inserted" — so append order can never change
  probe results (min-k is commutative, associative and idempotent).
* ``root/sigs`` — doc id → the full ``num_perm``-component signature
  (comma-joined signed int64 text). Fetched only for candidates, to
  score them.

Probe = two :meth:`~elephantdb_spark.engine.Domain.bulk_join` calls:
the history side NEVER shuffles at any size (tasks pyarrow-read their
own shard); the probe side pays one exchange of (batch × bands) band
keys plus one of candidate ids — both O(batch·bucket hits), never
O(history).

Recall contract: a batch doc is flagged iff some bucket member of one of
its bands scores ≥ threshold — i.e. FULL one-shot LSH bucket semantics
(a true near-dup sharing no complete band is still missed, exactly as in
``minhash_lsh_pairs``), degraded only when a band bucket overflows
``max_bucket`` (members beyond the ``max_bucket`` string-smallest ids
are dropped; an overflowing band vector is near-boilerplate shared by
many docs, and any of its kept members is an equally-near match for
threshold purposes in practice — but the truncation is a real, bounded
recall loss and is documented here rather than hidden).

Doc ids must not contain a newline when rendered as strings (the bucket
separator); ids are otherwise arbitrary and round-trip as text.

Crash ordering (ADVICE r6): build/append publish ``sigs`` BEFORE
``bands``. An orphaned sigs version is harmless — no band key points at
it; probes with ``version=None`` resolve ONE shared snapshot from the
bands domain and pin both bulk_joins to it, so a crash between the two
publishes can never pair new band buckets with a sigs version that
lacks their signatures.

Scoring uses the classic MinHash estimator (Broder 1997: for a random
permutation, P[min hash agrees] = Jaccard, so component-agreement/
``num_perm`` is an unbiased Jaccard estimate). No historical TEXT is
ever stored or read: 100 TB of ingested corpus costs
~``num_perm``·8 B + ``bands`` band keys per doc of history state —
a few hundred bytes per document, the same digests-only argument as
``operators.history``.

Why there is NO hot-shingle guard here, unlike ``minhash_lsh_pairs``:
signatures must be comparable ACROSS batches and across time. A
corpus-frequency-dependent shingle filter would give the same text a
different signature depending on which batch it arrived with. Strip
boilerplate upstream (``curation.normalize_text_col``,
``dedup.strip_duplicate_lines``) before fingerprinting instead.

Within-batch near-dups are the caller's choice (run
``minhash_lsh_pairs`` on the accepted survivors), exactly as
``filter_against_history`` leaves within-batch exact dups to the caller.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elephantdb_spark.build import (
    _fragmented_shards,
    build_domain,
    compact_domain,
    update_domain,
)
from elephantdb_spark.engine import Domain, DomainNotLoadedError
from elephantdb_spark.operators.dedup import _shingle_index, _signature_hash
from elephantdb_spark.spec import DomainSpec
from elephantdb_spark.store import DomainStore

PARAMS_FILE = "neardup_params.json"

#: Default cap on stored members per band bucket. A bucket at the cap is
#: a band vector shared by ≥32 documents — near-boilerplate; keeping the
#: 32 string-smallest ids bounds state AND keeps merges order-independent.
DEFAULT_MAX_BUCKET = 32


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    shingle_len: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Corpus-independent MinHash signatures: one row per doc that has at
    least one ``shingle_len``-token shingle, columns ``doc, mh0..mh{n-1}``.

    Docs with fewer than ``shingle_len`` tokens produce NO row (no
    signature exists for them); probes treat them as trivially new.
    One shuffle (the groupBy); the ``num_perm`` hashes are map-side
    combinable mins, all JVM-side."""
    inv = _shingle_index(df, id_col, text_col, shingle_len)
    aggs = [
        F.min(_signature_hash(F.col("shingle"), i, hash_fn)).alias(f"mh{i}")
        for i in range(num_perm)
    ]
    return inv.groupBy("doc").agg(*aggs)


def _band_key_cols(num_perm: int, bands: int) -> list[Column]:
    """One binary key per band: ``"{band}|" + comma-joined band components``.
    Longs render without commas, so distinct vectors ⇔ distinct strings."""
    rpb = num_perm // bands
    return [
        F.encode(
            F.concat(
                F.lit(f"{b}|"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{b * rpb + r}").cast("string")
                        for r in range(rpb)
                    ],
                ),
            ),
            "UTF-8",
        ).alias(f"bk{b}")
        for b in range(bands)
    ]


def _sig_value_col(num_perm: int) -> Column:
    return F.encode(
        F.concat_ws(",", *[F.col(f"mh{i}").cast("string") for i in range(num_perm)]),
        "UTF-8",
    )


def _band_kv(sigs: DataFrame, num_perm: int, bands: int, max_bucket: int) -> DataFrame:
    """(band key → member bucket) rows, one per DISTINCT band key; the
    bucket value is the newline-joined ASCENDING string ids of the
    bucket's ``max_bucket`` string-smallest members (ADVICE r6:
    all members, not one representative — probes score against each).

    Shape: window row_number per band key (bounded, spillable sort)
    rather than collect-then-truncate, so a degenerate near-boilerplate
    band shared by millions of docs never materializes an unbounded
    array in one aggregation buffer; the follow-on groupBy reuses the
    window's hash partitioning (one exchange total). Collapsing to
    distinct keys here lets the domain build skip its LWW pass
    (dedup='none', single shuffle)."""
    exploded = sigs.select(
        F.col("doc").cast("string").alias("__doc"),
        F.explode(F.array(*_band_key_cols(num_perm, bands))).alias("key"),
    )
    w = Window.partitionBy("key").orderBy(F.col("__doc").asc())
    kept = exploded.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= max_bucket
    )
    return kept.groupBy("key").agg(
        F.encode(
            F.concat_ws("\n", F.sort_array(F.collect_list("__doc"))), "UTF-8"
        ).alias("value")
    )


def _sig_kv(sigs: DataFrame, num_perm: int) -> DataFrame:
    return sigs.select(
        F.col("doc").cast("string").cast("binary").alias("key"),
        _sig_value_col(num_perm).alias("value"),
    )


def _write_params(root: str, params: dict) -> None:
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, PARAMS_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(params, fh)
    os.replace(tmp, os.path.join(root, PARAMS_FILE))


def read_params(root: str) -> dict:
    """The signature parameters this history was built with. Probes and
    appends MUST reuse them (a different num_perm/shingle_len/hash_fn
    would silently compare incomparable signatures), so both read this
    file instead of taking parameters. Roots written before the bucket
    cap existed default to ``max_bucket=1`` — exactly the single-MIN-doc
    semantics they were built with."""
    path = os.path.join(root, PARAMS_FILE)
    try:
        with open(path) as fh:
            p = json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"{path} not found: not a neardup-history root "
            "(build one with build_neardup_history)"
        ) from None
    p.setdefault("max_bucket", 1)
    return p


def build_neardup_history(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket: int = DEFAULT_MAX_BUCKET,
    spec: DomainSpec | None = None,
    version: int | None = None,
) -> int:
    """Publish the initial signature history from a corpus snapshot.

    One corpus text pass (the signature groupBy), persisted once and fed
    to both domain builds; both builds are single-shuffle (keys are
    pre-distinct). ``sigs`` publishes BEFORE ``bands`` (ADVICE r6 crash
    ordering — an orphaned sigs version is unreachable garbage, while
    orphaned band buckets would silently drop matches). Returns the
    published version id (identical for both sub-domains)."""
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    if max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    sigs = minhash_signatures(
        df, id_col, text_col, num_perm, shingle_len, hash_fn
    ).persist()
    try:
        v = build_domain(
            spark,
            _sig_kv(sigs, num_perm),
            os.path.join(root, "sigs"),
            spec,
            version=version,
            dedup="none",
        )
        build_domain(
            spark,
            _band_kv(sigs, num_perm, bands, max_bucket),
            os.path.join(root, "bands"),
            spec,
            version=v,
            dedup="none",
        )
    finally:
        sigs.unpersist()
    _write_params(
        root,
        {
            "num_perm": num_perm,
            "bands": bands,
            "shingle_len": shingle_len,
            "hash_fn": hash_fn,
            "max_bucket": max_bucket,
        },
    )
    return v


def append_neardup_history(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    id_col: str,
    text_col: str,
    version: int | None = None,
) -> int:
    """Append a batch's signatures as a NEW history version through the
    engine's incremental-update path (A20): untouched shards copy
    forward, readers hot-swap at the publish token. Signature parameters
    come from the root's params file — they are a property of the
    history, not the call.

    A batch band key colliding with an existing bucket MERGES member
    lists (bounded set union: the ``max_bucket`` string-smallest ids of
    old ∪ new — min-k, so the merged state is independent of append
    order and probe recall can only grow within the cap, never drift,
    ADVICE r6). The merge reads the colliding buckets via one O(batch)
    ``bulk_join`` against the pre-append bands snapshot. Callers
    typically append only the rows :func:`filter_against_neardup_history`
    left unflagged, but appending flagged rows is harmless (their ids
    join the buckets; min-k dedups re-appends)."""
    p = read_params(root)
    max_bucket = p["max_bucket"]
    sigs = minhash_signatures(
        batch, id_col, text_col, p["num_perm"], p["shingle_len"], p["hash_fn"]
    ).persist()
    try:
        bands_dom = Domain(spark, os.path.join(root, "bands"))
        # pin the merge read to the PRE-append snapshot explicitly: the
        # bulk_join executes lazily inside update_domain's write, by
        # which point a concurrent publish could have moved 'latest'
        pre_version = bands_dom.store.most_recent_version()
        new_bands = _band_kv(sigs, p["num_perm"], p["bands"], max_bucket)
        joined = bands_dom.bulk_join(
            new_bands, "key", value_alias="__old", version=pre_version
        )
        new_arr = F.split(F.decode(F.col("value"), "UTF-8"), "\n")
        old_arr = F.when(
            F.col("__old").isNull(), F.array().cast("array<string>")
        ).otherwise(F.split(F.decode(F.col("__old"), "UTF-8"), "\n"))
        merged = F.slice(
            F.array_sort(F.array_union(new_arr, old_arr)), 1, max_bucket
        )
        merged_bands = joined.select(
            "key",
            F.encode(F.concat_ws("\n", merged), "UTF-8").alias("value"),
        )
        # sigs FIRST (crash ordering, ADVICE r6): bands@v implies sigs@v
        v = update_domain(
            spark,
            _sig_kv(sigs, p["num_perm"]),
            os.path.join(root, "sigs"),
            version=version,
        )
        update_domain(spark, merged_bands, os.path.join(root, "bands"), version=v)
    finally:
        sigs.unpersist()
    return v


def compact_neardup_history(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    max_files_per_shard: int = 1,
) -> int:
    """Compact the history's physical layout (VERDICT r6 item 4). A
    locally-run append rewrites each touched shard as one fresh file, so
    appends alone don't fragment — fragmentation comes from
    ``maxRecordsPerFile`` splits and per-task output files at cluster
    scale, and each extra file per shard is an extra open+footer-read on
    every probe of that shard. Rewrites each sub-domain's fragmented shards into
    ``max_files_per_shard`` key-sorted files (``build.compact_domain`` —
    the reference's version-chain rewrite shape,
    cascalog/keyval.clj:55-64, DomainStore.java:156-180).

    Both lockstep sub-domains publish the SAME new version id — a
    non-fragmented sub-domain rides a pure file-level copy-forward
    publish (no Spark job; inside ``publishing``, so a failed copy rolls
    back and records the failure) so the lockstep invariant (bands@v ⇒
    sigs@v) survives; ``sigs`` publishes first (the module's crash
    ordering).
    Returns the new version id, or the CURRENT version unchanged when
    neither sub-domain is fragmented (no-op — no job, no new version).
    Probe results are byte-identical across a compaction; pinning a
    pre-compaction version keeps reading the old layout (A12)."""
    read_params(root)  # validates this is a neardup-history root
    subs = []  # (store, current version, fragmented shard ids) — sigs FIRST
    for sub in ("sigs", "bands"):
        store = DomainStore.open(os.path.join(root, sub))
        cur = store.most_recent_version()
        if cur is None:
            raise DomainNotLoadedError(f"{store.root} has no published version")
        frag = _fragmented_shards(store.version_path(cur), max_files_per_shard)
        subs.append((store, cur, frag))
    if not any(frag for _, _, frag in subs):
        return subs[-1][1]  # bands' version: the one probes resolve
    if version is None:
        version = max(store.new_version_id() for store, _, _ in subs)
    for store, cur, frag in subs:
        if frag:
            compact_domain(
                spark, store.root, version=version,
                max_files_per_shard=max_files_per_shard,
            )
        else:
            with store.publishing(version):
                store.synchronize_versions(cur, version)
    return version


def filter_against_neardup_history(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    version: int | None = None,
    tasks_per_shard: int | None = None,
    cache_sigs: bool = False,
) -> DataFrame:
    """Flag each batch row against the signature history: returns the
    batch columns plus

    * ``is_neardup`` — true ⇔ some stored bucket member of one of the
      row's bands has a signature agreeing on ≥ ``threshold`` of its
      components (the Broder estimate of Jaccard ≥ threshold). Recall is
      governed by the banding exactly as in one-shot LSH — a true
      near-dup sharing no full band is missed (see SCALE.md's measured
      recall at production banding) — plus the documented ``max_bucket``
      truncation for overflowing (near-boilerplate) band buckets,
    * ``match_id`` — the best-scoring matched history doc id (string —
      ids round-trip through the domain as text; ties broken by
      ascending string id), null unless flagged,
    * ``est_jaccard`` — that match's agreement fraction, null unless
      flagged.

    Rows with fewer than ``shingle_len`` tokens have no signature and
    come back ``(false, null, null)``.

    ``cache_sigs`` is accepted and ignored: the batch signature frame is
    never pinned, and the minhash lineage runs once per consumer (the
    band probe and the scoring join) — measured cheaper than a pin,
    which defeats bulk_join's auto task sizing (see the inline note).
    The parameter goes once no caller passes it.

    ``version`` pins BOTH sub-domains (their versions move in lockstep);
    when None, ONE shared snapshot is resolved from the bands domain —
    publishes go sigs-then-bands, so any bands version has its sigs twin
    even across a crash window (ADVICE r6). ``tasks_per_shard`` passes
    through to both bulk_joins (default: auto-tuned per probe size)."""
    clash = {"is_neardup", "match_id", "est_jaccard"} & set(batch.columns)
    if clash:
        raise ValueError(
            f"batch columns collide with the output flags: {sorted(clash)}"
        )
    p = read_params(root)
    num_perm, bands = p["num_perm"], p["bands"]
    sigs = minhash_signatures(
        batch, id_col, text_col, num_perm, p["shingle_len"], p["hash_fn"]
    )
    # sigs is not pinned (r19, measured cheaper): pinning
    # sigs puts the band probe on an ExistingRDD lineage, which defeats
    # the footer-sampled probe-row estimate behind bulk_join's
    # auto-tasks_per_shard (non-file plans -> m=1), and the de-par-
    # allelized joins cost more than the duplicate minhash lineage saves
    # — interleaved sf0.1 A/B read 0.88x (OPTIMIZATION_r19.md item 6).
    banded = sigs.select(
        "doc", F.explode(F.array(*_band_key_cols(num_perm, bands))).alias("key")
    )
    bands_dom = Domain(spark, os.path.join(root, "bands"))
    if version is None:
        version = bands_dom.store.most_recent_version()
    hits = (
        bands_dom.bulk_join(
            banded, "key", value_alias="__bucket",
            version=version, tasks_per_shard=tasks_per_shard,
        )
        .filter(F.col("__bucket").isNotNull())
        .select(
            "doc",
            F.explode(
                F.split(F.decode(F.col("__bucket"), "UTF-8"), "\n")
            ).alias("match_id"),
        )
        .distinct()
    )
    sigs_dom = Domain(spark, os.path.join(root, "sigs"))
    fetched = sigs_dom.bulk_join(
        hits.select("doc", "match_id", F.encode("match_id", "UTF-8").alias("__sk")),
        "__sk",
        value_alias="__hsig",
        version=version,
        tasks_per_shard=tasks_per_shard,
    )
    bsig = F.array(*[F.col(f"mh{i}") for i in range(num_perm)])
    hsig = F.transform(
        F.split(F.col("__hsig").cast("string"), ","), lambda x: x.cast("long")
    )
    est = (
        F.aggregate(
            F.zip_with(bsig, hsig, lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(float(num_perm))
    )
    scored = (
        fetched.join(sigs, "doc")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("est_jaccard").desc(), F.col("match_id").asc()
    )
    best = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            F.col("doc").alias("__nd_doc"), "match_id", "est_jaccard"
        )
    )
    out_cols = [
        *batch.columns,
        F.col("match_id").isNotNull().alias("is_neardup"),
        "match_id",
        "est_jaccard",
    ]
    return batch.join(
        best, batch[id_col] == best["__nd_doc"], "left"
    ).select(*out_cols)
