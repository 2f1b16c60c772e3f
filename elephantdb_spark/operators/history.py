"""Incremental exact dedup against a PERSISTED digest-history domain.

:func:`~elephantdb_spark.operators.dedup.exact_dedup` dedups one corpus
snapshot in one job. A production ingestion pipeline doesn't get the
corpus in one job — it gets a batch a day, and "is this document new?"
must be answered against *everything ever ingested* without rescanning
raw history. This module composes E1 exact dedup with the engine's own
KV machinery (A17 versioned publish, A20 incremental update with
copy-forward — reference: elephantdb-core/src/jvm/elephantdb/store/
VersionedStore.java:102-108, DomainStore.java:156-180): the seen-set is
a versioned domain of content digests, batches are filtered against it
with broadcast joins, and accepted batches are appended through the
engine's incremental-update path.

Why this scales where the one-shot operator can't:

* The history domain stores (digest, id) — 32 + ~8 bytes a row, not
  documents. A 100 TB corpus's full dedup history is a few TB of
  digests; one filter pass reads digests only, never historical text.
* The typical incremental batch is tiny next to the history, so the
  filter is TWO BROADCAST joins (semi: history ⋉ batch-digests to find
  hits — the only frame ever collected is batch-sized; then left: batch
  ⋈ hits to flag rows). The history is scanned once and NEVER shuffled.
  Batches above ``MAX_BROADCAST_ROWS`` fall back to a key shuffle where
  only 32-byte digests ride the exchange. The batch's exact row count
  is the size estimate behind that broadcast.
* Appending accepted digests goes through ``update_domain``: shards the
  batch doesn't touch are file-copied forward (A20), so growing the
  seen-set costs O(batch), not O(history).

Digesting matches ``exact_dedup``'s 128-bit composite (two
independently-seeded xxhash64 halves, per-column null indicators mixed
in) — the same collision-safety story, SURVEY §2 E1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephantdb_spark.build import build_domain, update_domain
from elephantdb_spark.engine import Domain
from elephantdb_spark.operators.dedup import digest128_null_safe
from elephantdb_spark.pinning import pin
from elephantdb_spark.spec import DomainSpec

#: Above this many batch rows the filter falls back from the broadcast
#: semi-join to a digest-key shuffle join (~1M digest keys ≈ the 64 MB
#: broadcast threshold in session.py).
MAX_BROADCAST_ROWS = 1_000_000


def digest_key_col(key_cols: list[str]):
    """32-byte binary domain key: hex of the two xxhash64 halves over the
    key columns (null indicators mixed in, as in ``exact_dedup``). Hex
    (not raw longs) keeps the key printable and byte-orderable; the
    md5-mod shard router (A4) only sees bytes either way."""
    d0, d1 = digest128_null_safe(key_cols)
    return F.encode(
        F.concat(F.lpad(F.hex(d0), 16, "0"), F.lpad(F.hex(d1), 16, "0")),
        "UTF-8",
    )


def _digest_kv(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    return df.select(
        digest_key_col(key_cols).alias("key"),
        F.col(id_col).cast("string").cast("binary").alias("value"),
    )


def build_dedup_history(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    key_cols: list[str],
    id_col: str,
    spec: DomainSpec | None = None,
    version: int | None = None,
) -> int:
    """Publish the initial seen-set domain from a corpus snapshot: one row
    per distinct content digest (within-snapshot duplicates collapse in
    the build's LWW pass — keeper identity is irrelevant to membership).
    Returns the published version id."""
    return build_domain(
        spark, _digest_kv(df, key_cols, id_col), root, spec, version=version
    )


def append_dedup_history(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    key_cols: list[str],
    id_col: str,
    version: int | None = None,
) -> int:
    """Append a batch's digests as a NEW history version via the engine's
    incremental-update path (A20): untouched shards copy forward, readers
    hot-swap at the publish token. Callers typically append only the
    rows :func:`filter_against_history` marked new, but appending
    already-seen digests is harmless (LWW upsert)."""
    return update_domain(
        spark, _digest_kv(batch, key_cols, id_col), root, version=version
    )


def filter_against_history(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    key_cols: list[str],
    version: int | None = None,
) -> DataFrame:
    """Flag each batch row against the seen-set: returns the batch columns
    plus ``is_new`` (true ⇔ the row's digest is absent from the pinned
    history version). Within-batch duplicates all get the same flag —
    collapsing them is the caller's choice (``exact_dedup`` on the
    survivors), not this filter's.
    """
    hist = Domain(spark, root).scan(version=version).select("key")
    # ONE materialization of the keyed batch serves the size probe, the
    # broadcast digest build, and the flagging join — without the pin a
    # batch with real ingest lineage would be re-scanned three times.
    keyed = pin(batch.withColumn("__k", digest_key_col(key_cols)))
    out_cols = [*batch.columns, F.col("__hit").isNull().alias("is_new")]
    n_batch = keyed.count()
    if n_batch <= MAX_BROADCAST_ROWS:
        # hits = history ⋉ batch digests: history scanned once, never
        # shuffled; the result is bounded by the batch's distinct count
        hits = hist.join(
            F.broadcast(keyed.select(F.col("__k").alias("key")).distinct()),
            "key",
            "leftsemi",
        ).select(F.col("key").alias("__k"), F.lit(True).alias("__hit"))
        flagged = keyed.join(F.broadcast(hits), "__k", "left")
    else:
        # big-batch fallback: co-partition on the 32-byte digest; only
        # digests ride the exchange, batch text stays put until the join
        flagged = keyed.join(
            hist.select(F.col("key").alias("__k"), F.lit(True).alias("__hit")),
            "__k",
            "left",
        )
    return flagged.select(*out_cols)
