"""Batch build path: DataFrame of (key, value) → published domain version.

Spark-first restatement of the reference write pipeline
(reference: elephantdb-cascading/src/jvm/elephantdb/cascading/
KeyValTailAssembly.java:25-79 — Shardize → MakeSortableKey →
GroupBy(shard, sort key) with numReduceTasks == numShards;
elephantdb-core/src/jvm/elephantdb/hadoop/ElephantOutputFormat.java:40-136 —
per-reducer local store build + copy to DFS; ElephantDBTap.java:166-188 —
version commit/rollback):

    dedup last-writer-wins            (A9,  JavaBerkDB.java:84-94)
  → shard column = md5_mod(key, n)    (A4/A5, Utils.java:57-60)
  → repartition(n) with EXACT 1:1 shard→partition placement (A7)
  → sortWithinPartitions(shard, key)  (A6, secondary sort)
  → write.partitionBy("shard") key-sorted Parquet into <root>/<version>/
  → copy-forward untouched shards     (A20, DomainStore.java:156-180)
  → publish token                     (A17, VersionedStore.java:102-108)

One shuffle total. The sort doubles as Parquet min/max statistics quality:
row-group pruning on key predicates is what makes point reads cheap.

Scale notes (100 TB): no driver-side collect of data anywhere; the only
driver materializations are shard-id lists (≤ num_shards ints). The
`maxRecordsPerFile`/`shuffle.partitions` sizing is the caller's knob via
`DomainSpec.persistence_opts` (e.g. target 512 MB–1 GB per shard file →
pick num_shards ≈ dataset_bytes / 768 MB).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephantdb_spark.registry import resolve_format, resolve_indexer, resolve_scheme
from elephantdb_spark.sharding import with_slot_column
from elephantdb_spark.spec import DomainSpec
from elephantdb_spark.store import DomainStore

#: Write-time document transform hook, the analogue of the reference's
#: pluggable Indexer (elephantdb-core/src/jvm/elephantdb/index/Indexer.java:8-9).
#: Receives and returns a DataFrame with at least (key, value); may also be
#: given as a dotted ``module.name`` resolved via the registry.
Indexer = Callable[[DataFrame], DataFrame]


def _resolve_indexer_arg(indexer: Indexer | str | None) -> Indexer | None:
    return resolve_indexer(indexer) if isinstance(indexer, str) else indexer


#: Default Parquet row-group byte target for domain shard files. Row groups
#: are the unit of Spark scans and of bulk_join's sub-shard slices (cut at
#: row-group key bounds), and the serving path converts a shard file to its
#: local Arrow copy one row group at a time (engine.py
#: ``convert_shard_file``). Spark's writer default (128 MB) makes a small
#: shard ONE monolithic group, which leaves bulk_join nothing to slice;
#: 16 MiB keeps footer size and scan throughput unaffected at 100 TB (a
#: 1 GB shard carries 64 groups). Override per domain via
#: ``persistence_opts={"parquet.block.size": ...}``.
SERVING_ROW_GROUP_BYTES = 16 << 20

#: Ceiling on a ``parquet.block.size`` override. Converting a shard file
#: to its local serving copy decodes one row group at a time, and
#: bulk_join's tasks read whole groups, so this bounds their transient
#: memory per thread. Checked once, when a new domain's spec is persisted
#: (:func:`check_new_spec`); a domain whose spec predates the ceiling
#: keeps its layout through updates and compaction.
MAX_ROW_GROUP_BYTES = 32 << 20


def check_new_spec(spec: DomainSpec) -> None:
    """Raise ValueError when a new parquet spec's ``parquet.block.size``
    is above MAX_ROW_GROUP_BYTES."""
    if spec.persistence_format != "parquet":
        return
    block = int(
        (spec.persistence_opts or {}).get(
            "parquet.block.size", SERVING_ROW_GROUP_BYTES
        )
    )
    if block > MAX_ROW_GROUP_BYTES:
        raise ValueError(
            f"parquet.block.size={block} exceeds MAX_ROW_GROUP_BYTES="
            f"{MAX_ROW_GROUP_BYTES}: serving copies and bulk_join decode "
            "row groups whole"
        )


def dedup_last_writer_wins(df: DataFrame, seq_col: str | None = None) -> DataFrame:
    """Keep one row per key — the last writer (A9, JavaBerkDB.java:84-94).

    With ``seq_col``, "last" is the max of that column (seq ties broken by
    greatest value — deterministic). Without, ties are broken
    arbitrarily-but-deterministically by the greatest value bytes, mirroring
    the reference where reducer arrival order among equal keys is itself
    unspecified.

    Implementation is groupBy aggregation, not a sort-window: groupBy gets
    map-side partial aggregation, so duplicate keys collapse *before* the
    shuffle — at scale the exchange carries one row per key per map task
    instead of every input row (measured 3.8x faster than
    row_number-over-window at sf0.1). Note binary max plans as
    SortAggregate (hash agg needs fixed-width buffers) — the partial
    combine, the part that matters, is still there (see PLANS.md).
    """
    if seq_col:
        agg = F.max_by("value", F.struct(F.col(seq_col), F.col("value")))
    else:
        agg = F.max("value")
    return df.groupBy("key").agg(agg.alias("value")).select("key", "value")


def _guarded_shard_expr(scheme, num_shards: int):
    """Shard column with a NULL-key rejection built in: NULL keys have no
    shard and would land in a hive default partition dir unreachable by
    any read — raise loudly instead. The check rides inside the shard
    expression (which is always consumed) so the optimizer cannot prune
    it. Used by both the build and the incremental-update paths."""
    return F.when(
        F.col("key").isNull(),
        F.raise_error(F.lit("domain build: key must not be NULL")),
    ).otherwise(scheme.shard_col(F.col("key"), num_shards))


def _write_shards(
    spark: SparkSession,
    df: DataFrame,
    spec: DomainSpec,
    sort_col: str,
    path: str,
    opts: dict[str, str],
) -> None:
    """The one sharded writer: ``df`` (with an int ``shard`` column) goes
    to ``path`` as ``shard=<i>`` dirs, one ``sort_col``-sorted file per
    shard. Exact 1:1 shard→partition placement (see
    sharding.exact_partition_slots), then a sort by (shard, sort_col) so
    the partitioned writer streams rows in order without re-sorting."""
    n = spec.num_shards
    (
        with_slot_column(spark, df, n)
        .repartition(n, F.col("__slot"))
        .sortWithinPartitions("shard", sort_col)
        .drop("__slot")
        .write.mode("errorifexists")
        .partitionBy("shard")
        .format(resolve_format(spec.persistence_format))
        .options(**opts)
        .save(path)
    )


def _write_version(
    spark: SparkSession,
    df: DataFrame,
    store: DomainStore,
    version_path: str,
) -> None:
    """Shard, sort, and write one KV version directory (no publish)."""
    scheme = resolve_scheme(store.spec.shard_scheme)
    sharded = df.withColumn(
        "shard", _guarded_shard_expr(scheme, store.spec.num_shards)
    )
    _write_shards(
        spark, sharded, store.spec, "key", version_path,
        _writer_opts(store.spec),
    )


def _writer_opts(spec: DomainSpec, drop: tuple = ()) -> dict[str, str]:
    """The spec's ``persistence_opts`` as writer options. Our own
    non-writer knobs (``bloom_fpp``, ``compact_after_files``) and any
    ``drop`` keys are stripped. Parquet row groups default to
    SERVING_ROW_GROUP_BYTES."""
    opts = dict(spec.persistence_opts or {})
    for k in ("bloom_fpp", "compact_after_files", *drop):
        opts.pop(k, None)
    if resolve_format(spec.persistence_format) == "parquet":
        opts.setdefault("parquet.block.size", SERVING_ROW_GROUP_BYTES)
    return {k: str(v) for k, v in opts.items()}


def _maybe_build_blooms(spark: SparkSession, store: DomainStore, vpath: str) -> None:
    """When the spec opts in (``persistence_opts={"bloom_fpp": 0.01}``),
    build Bloom sidecars for every data file in the version that lacks
    one (bloom.py — one distributed job, one task per core, each writing
    its share of the files). Runs BEFORE the version token is published
    so a served version either has its full sidecar set or is not
    visible; copy-forward carries existing sidecars inside their shard
    dirs, so only rewritten files pay."""
    fpp = (store.spec.persistence_opts or {}).get("bloom_fpp")
    if not fpp or resolve_format(store.spec.persistence_format) != "parquet":
        return
    from elephantdb_spark.bloom import build_bloom_sidecars

    build_bloom_sidecars(spark, vpath, float(fpp))


def build_domain(
    spark: SparkSession,
    df: DataFrame,
    domain_root: str,
    spec: DomainSpec | None = None,
    version: int | None = None,
    seq_col: str | None = None,
    indexer: Indexer | str | None = None,
    dedup: str = "lww",
) -> int:
    """Build and atomically publish a new full version of a domain.

    ``df`` must have columns ``key: binary`` (non-null) and
    ``value: binary`` (+ optionally ``seq_col`` for last-writer-wins order).
    Returns the published version id.

    ``dedup``: ``"lww"`` (default) runs last-writer-wins — a second
    key-shuffle; ``"none"`` skips it when the caller guarantees unique keys
    (the common export case), making the whole build a single shuffle.
    """
    if dedup not in ("lww", "none"):
        raise ValueError(f"dedup must be 'lww' or 'none', got {dedup!r}")
    indexer = _resolve_indexer_arg(indexer)
    store = DomainStore.create_or_open(domain_root, spec)
    with store.publishing(version) as (version, vpath):
        data = df.select("key", "value") if dedup == "none" else dedup_last_writer_wins(df, seq_col)
        if indexer is not None:
            data = indexer(data).select("key", "value")
        _write_version(spark, data, store, vpath)
        _maybe_build_blooms(spark, store, vpath)
    return version


def _fragmented_shards(version_path: str, cap: int) -> list[int]:
    """Shard ids under ``version_path`` holding more than ``cap`` data
    files (hidden ``_``/``.`` entries such as Bloom sidecars excluded).
    A directory listing only: no footer is read."""
    out = []
    for name in os.listdir(version_path):
        full = os.path.join(version_path, name)
        if name.startswith("shard=") and os.path.isdir(full):
            files = [f for f in os.listdir(full) if not f.startswith(("_", "."))]
            if len(files) > cap:
                out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _rewrite_shards(
    spark: SparkSession,
    store: DomainStore,
    src_path: str,
    shards: list[int],
    dst_path: str,
    opts: dict[str, str],
    batch: DataFrame | None = None,
) -> None:
    """The one shard-rewrite path, shared by :func:`compact_domain`,
    :func:`update_domain` and ``ann_index.update_ivf_index``: read the
    ``shards`` of ``src_path`` (partition-pruned), let ``batch`` win per
    row of the domain's sort column when one is given, and write the
    result under ``dst_path`` (``shard=<i>`` dirs) with writer ``opts``.

    Schema-agnostic: KV domains carry (key, value), index domains
    (vec_id, embedding), sorted by ``key`` or the spec's ``id_col``.
    ``batch`` holds the same data columns plus an int ``shard`` column.
    The anti-join carries no hint: callers pass a cached, counted batch,
    so the planner broadcasts it from its measured size."""
    fmt = resolve_format(store.spec.persistence_format)
    base = (
        spark.read.option("basePath", src_path)
        .format(fmt)
        .load(src_path)
        .filter(F.col("shard").isin(shards))  # partition-pruned
    )
    data_cols = [c for c in base.columns if c != "shard"]
    sort_col = (
        "key"
        if "key" in data_cols
        else store.spec.persistence_opts.get("id_col", data_cols[0])
    )
    rows = base.select(*data_cols, F.col("shard").cast("int").alias("shard"))
    if batch is not None:
        rows = rows.join(batch.select(sort_col), sort_col, "left_anti").unionByName(
            batch.select(*data_cols, "shard")
        )
    _write_shards(spark, rows, store.spec, sort_col, dst_path, opts)


def update_domain(
    spark: SparkSession,
    batch: DataFrame,
    domain_root: str,
    version: int | None = None,
    seq_col: str | None = None,
    indexer: Indexer | str | None = None,
) -> int:
    """Incremental update: merge a batch into a new version, copying forward
    shards the batch does not touch (A20, DomainStore.java:156-180;
    append/upsert semantics of openPersistenceForAppend, JavaBerkDB.java:84-94).

    Per-key semantics match SURVEY Q11: full-outer merge where the new batch
    wins. Only shards containing batch keys are recomputed; every other
    shard directory is file-copied from the previous version.

    Scale path: the merge is an anti-join of the old data against the
    batch's keys. The batch is cached and counted first, so the planner
    sees its measured size: a typical batch, tiny next to the domain,
    plans as a *broadcast* anti-join — the old data is read once and
    never shuffled for the merge (its only shuffle is the write-path
    placement) — and a batch above ``autoBroadcastJoinThreshold`` as a
    sort-merge one, with the same answer.

    Opt-in self-heal (``persistence_opts={"compact_after_files": N}``):
    every shard of the previous version holding more than N data files
    joins the touched set, and the one merge job writes each rewritten
    shard as ONE file (no ``maxRecordsPerFile`` split), so repeated
    updates never accumulate fragments. A touched shard becomes one file
    even when its split would have stayed within N; shards at or under N
    that the batch does not touch are still copied forward. The update's
    own version id publishes the healed layout (callers own the
    version-id namespace, so no follow-up version is made).
    """
    store = DomainStore.open(domain_root)
    n = store.spec.num_shards
    scheme = resolve_scheme(store.spec.shard_scheme)
    indexer = _resolve_indexer_arg(indexer)
    prev = store.most_recent_version()
    if prev is None:
        return build_domain(spark, batch, domain_root, store.spec, version, seq_col, indexer)
    with store.publishing(version) as (version, vpath):
        new_data = dedup_last_writer_wins(batch, seq_col)
        if indexer is not None:
            new_data = indexer(new_data).select("key", "value")
        new_data = new_data.withColumn("shard", _guarded_shard_expr(scheme, n)).cache()
        try:
            # one job yields the touched-shard list (≤ n rows to the
            # driver) and materializes the cache, whose measured size
            # the planner's broadcast choice below reads
            touched = sorted(
                r["shard"] for r in new_data.groupBy("shard").count().collect()
            )
            prev_path = store.version_path(prev)
            cap = (store.spec.persistence_opts or {}).get("compact_after_files")
            if cap:
                touched = sorted({*touched, *_fragmented_shards(prev_path, int(cap))})
            opts = _writer_opts(store.spec, drop=("maxRecordsPerFile",) if cap else ())
            # New batch wins per key (Q11: COALESCE(new, old)).
            _rewrite_shards(
                spark, store, prev_path, touched, vpath, opts, batch=new_data
            )
        finally:
            new_data.unpersist()
        store.synchronize_versions(prev, version)
        _maybe_build_blooms(spark, store, vpath)  # rewritten shards only
    return version


class StagedBuild:
    """Append-to-unpublished-version staging — the Spark-first analogue of
    ``openPersistenceForAppend`` (reference:
    elephantdb-core/src/jvm/elephantdb/persistence/Coordinator.java:12-23;
    ElephantOutputFormat.java:60-77 opens local shards for append and the
    version becomes visible only at commit).

    Accumulate any number of DataFrames into ONE reserved, unpublished
    version, then shard/sort/publish once:

        sb = StagedBuild(spark, root, spec)      # reserves the version
        sb.stage(batch1); sb.stage(batch2)       # raw parquet, no shuffle
        sb.publish()                             # merge → shard → token

    Staged batches are written raw (no sharding, no sort) to
    ``<root>/.staging-<version>/batch-<i>`` — beside the version dir, not
    in it — and the expensive exchange happens exactly once at publish,
    over the union. Merge semantics at publish: last-writer-wins where a
    LATER batch beats an earlier one (append/put-overwrite order,
    JavaBerkDB.java:84-94), with ``seq_col`` ordering within a batch; if
    the domain already has a published version the result then merges
    into it with copy-forward, exactly like :func:`update_domain`.

    Crash safety is the one commit protocol (``VersionedStore.publishing``,
    VersionedStore.java:78-108): the reserved version dir stays empty and
    unpublished while batches stage — readers never see it, ``status()``
    reports loading/updating — and ``publish()`` is one
    :func:`build_domain`/:func:`update_domain` into that version. The
    staged batches are deleted only after the token exists, so a failed
    or crashed publish leaves them for ``resume()`` + ``publish()``.
    ``cleanup()`` deletes an abandoned build: its version dir and its
    staging dir.
    """

    def __init__(
        self,
        spark: SparkSession,
        domain_root: str,
        spec: DomainSpec | None = None,
        version: int | None = None,
    ):
        self.spark = spark
        self.store = DomainStore.create_or_open(domain_root, spec)
        if version is None:
            version = self.store.new_version_id()
        self.version = int(version)
        self._published = False
        os.makedirs(self.store.create_version(self.version))
        self._staging = self.store.staging_path(self.version)
        shutil.rmtree(self._staging, ignore_errors=True)  # abandoned leftover
        os.makedirs(self._staging)

    @classmethod
    def resume(
        cls, spark: SparkSession, domain_root: str, version: int
    ) -> "StagedBuild":
        """Reopen an unpublished staged version, after a restart or a
        failed publish (whose rollback removed the reserved dir: it is
        reserved again)."""
        self = cls.__new__(cls)
        self.spark = spark
        self.store = DomainStore.open(domain_root)
        self.version = int(version)
        self._published = False
        if self.store.has_version(self.version):
            raise RuntimeError(f"version {version} is already published")
        self._staging = self.store.staging_path(self.version)
        if not os.path.isdir(self._staging):
            raise RuntimeError(f"no staged version {version} at {domain_root}")
        os.makedirs(self.store.version_path(self.version), exist_ok=True)
        return self

    def _batch_dirs(self) -> list[tuple[int, str]]:
        out = []
        for name in os.listdir(self._staging):
            if name.startswith("batch-"):
                out.append((int(name[len("batch-"):]), os.path.join(self._staging, name)))
        return sorted(out)

    def stage(self, df: DataFrame) -> int:
        """Append one batch (columns ``key: binary, value: binary`` plus an
        optional seq column) to the unpublished version. Raw columnar
        write — no shuffle, no sort; returns the batch index."""
        if self._published:
            raise RuntimeError("staged build already published")
        dirs = self._batch_dirs()
        idx = (dirs[-1][0] + 1) if dirs else 0
        df.write.mode("errorifexists").parquet(
            os.path.join(self._staging, f"batch-{idx}")
        )
        return idx

    def abort(self) -> None:
        """Drop the unpublished version and everything staged in it."""
        self.store.fail_version(self.version)
        shutil.rmtree(self._staging, ignore_errors=True)
        self._published = True  # handle is dead either way

    def publish(
        self,
        seq_col: str | None = None,
        indexer: Indexer | str | None = None,
    ) -> int:
        """Merge the staged batches (later batch wins per key, ``seq_col``
        orders within a batch), then run the normal build/update path into
        THIS version and publish its token. Equivalent to one
        :func:`build_domain` of the ordered union (or one
        :func:`update_domain` when a previous version exists)."""
        if self._published:
            raise RuntimeError("staged build already published")
        dirs = self._batch_dirs()
        if not dirs:
            raise RuntimeError("nothing staged")
        parts = [
            self.spark.read.parquet(path).withColumn("__batch", F.lit(idx))
            for idx, path in dirs
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        prio = (
            F.struct(F.col("__batch"), F.col(seq_col))
            if seq_col
            else F.col("__batch")
        )
        merged = dedup_last_writer_wins(
            union.select("key", "value", prio.alias("__prio")), "__prio"
        )
        if self.store.most_recent_version() is None:
            build_domain(
                self.spark, merged, self.store.root, self.store.spec,
                version=self.version, indexer=indexer, dedup="none",
            )
        else:
            update_domain(
                self.spark, merged, self.store.root,
                version=self.version, indexer=indexer,
            )
        self._published = True
        shutil.rmtree(self._staging)  # only now: the token exists
        return self.version


def compact_domain(
    spark: SparkSession,
    domain_root: str,
    version: int | None = None,
    max_files_per_shard: int = 1,
) -> int:
    """Rewrite the current version merging fragmented shard directories
    into ``max_files_per_shard`` key-sorted files each, published as a NEW
    version (VERDICT r3 item 4). Shards already at or under the target
    file count are never recomputed — they ride the same file-level
    copy-forward incremental updates use (A20, DomainStore.java:156-180);
    compaction is reshard's same-shard-count degenerate case
    (cascalog/keyval.clj:55-64) restricted to the fragmented shards.

    Fragmentation accrues from ``maxRecordsPerFile`` splits, staged
    builds, and (on a cluster) per-task output files; each extra file per
    shard is an extra open+footer-read on every probe of that shard.
    Returns the new version id, or the CURRENT version unchanged when no
    shard exceeds the target (no-op — no job, no new version).

    Non-shard version artifacts (e.g. an index domain's ``_centroids.json``)
    are carried into the new version verbatim.
    """
    store = DomainStore.open(domain_root)
    current = store.most_recent_version()
    if current is None:
        raise RuntimeError(f"domain at {domain_root} has no published version")
    cur_path = store.version_path(current)

    fragmented = _fragmented_shards(cur_path, max_files_per_shard)
    if not fragmented:
        return current
    extras = [
        name for name in os.listdir(cur_path)
        if not name.startswith("shard=") and name != "_SUCCESS"
    ]

    with store.publishing(version) as (version, vpath):
        # layout properties (codec, row-group cap, ...) survive; only the
        # file-split knob compaction exists to undo is dropped
        _rewrite_shards(
            spark, store, cur_path, fragmented, vpath,
            _writer_opts(store.spec, drop=("maxRecordsPerFile",)),
        )
        for name in extras:
            src = os.path.join(cur_path, name)
            dst = os.path.join(vpath, name)
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy2(src, dst)
        store.synchronize_versions(current, version)
        _maybe_build_blooms(spark, store, vpath)  # compacted shards only
    return version


def reshard(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    new_num_shards: int,
    version: int | None = None,
) -> int:
    """Full read → re-partition under a new shard count → publish (A21,
    elephantdb-cascalog/src/clj/elephantdb/cascalog/keyval.clj:55-64)."""
    src = DomainStore.open(src_root)
    current = src.most_recent_version()
    if current is None:
        raise RuntimeError(f"domain at {src_root} has no published version")
    df = (
        spark.read.format(resolve_format(src.spec.persistence_format))
        .load(src.version_path(current))
        .select("key", "value")
    )
    new_spec = DomainSpec(
        num_shards=new_num_shards,
        shard_scheme=src.spec.shard_scheme,
        persistence_format=src.spec.persistence_format,
        persistence_opts=src.spec.persistence_opts,
    )
    return build_domain(spark, df, dst_root, new_spec, version)
