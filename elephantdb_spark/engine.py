"""Read path + catalog: the serving-layer query semantics, Spark-first.

The reference serves `get` / `multiGet` / `directMultiGet` / `getCount` over
Thrift from a ring of daemons (reference:
elephantdb-thrift/src/keyval.thrift:8-21,
elephantdb-server/src/clj/elephantdb/keyval/core.clj:108-172). The ring,
replica failover and RPC fan-out are process topology, not query semantics —
Spark's scheduler replaces them. What this module keeps, observably
identical:

* point get hit → value bytes; miss → None (JavaBerkDB.java:75-81);
* multiGet returns an entry per requested key, misses null-preserving
  (core.clj:118-134) — expressed as a broadcast left join of the key set
  against only the shards those keys hash to;
* directMultiGet restricted to an explicit shard set raises the analogue of
  WrongHostException for keys routed elsewhere (core.clj:148-155);
* getCount is a full count of the domain (core.clj:212-216);
* version visibility: only token-published versions are readable; reads
  resolve the current version at query start (hot-swap = publishing a newer
  version; common/domain.clj:208-228).

Scale design: every lookup computes its shard set driver-side with the pure
Python md5-mod and passes only those ``shard=<i>`` directories to the Parquet
reader (partition pruning by construction), then relies on key-sorted files
for row-group min/max skipping. A multiGet of k keys over a 100 TB domain
touches ≤ k shard files and ≤ k row groups — the same asymptotics as the
reference's B-tree probes.
"""

from __future__ import annotations

import bisect
import os
import sys
import threading
import warnings
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

from elephantdb_spark.registry import resolve_format, resolve_scheme
from elephantdb_spark.spec import DomainSpec
from elephantdb_spark.store import DomainStore, shard_dirname

#: Byte budget for the decoded-row-group serving cache (per Domain
#: handle; override per domain with
#: ``persistence_opts={"serving_cache_bytes": N}``, 0 disables). The
#: reference's serving reads hit BerkeleyDB JE's in-memory B-tree/leaf
#: cache on repeat probes (je.maxMemory; JavaBerkDB.java:70-82 probes a
#: cached tree) — without an analogue every probe of a hot key re-decodes
#: its ≤16 MiB parquet row group from disk. A decoded group is kept whole
#: while the cache has room for it and it is at most a quarter of the
#: budget; otherwise only the rows the probe found are kept, as a row
#: entry under the same key (the analogue of JE caching a leaf node, not
#: the whole tree), so one oversized or cold group cannot thrash the
#: cache. New domains bound every group at ``build.MAX_ROW_GROUP_BYTES``,
#: which bounds the transient decode.
SERVING_GROUP_CACHE_BYTES = 64 << 20

#: Bytes charged per row of a row entry on top of its key and value
#: objects: the dict slot (hash, key and value pointers at the dict's
#: load factor) plus its index entry.
ROW_SLOT_BYTES = 64

#: ``Domain.serving_stats()`` counter names.
SERVING_STATS = (
    "group_hits", "row_hits", "decodes", "rows_admitted",
    "bloom_tests", "bloom_rejects",
)

#: A row entry's "not held" marker (a held key may map to None: NULL).
_ABSENT = object()


def serving_cache_budget(spec: DomainSpec) -> int:
    """The spec's ``serving_cache_bytes`` (default
    SERVING_GROUP_CACHE_BYTES); ValueError unless it is an integer ≥ 0."""
    raw = (spec.persistence_opts or {}).get(
        "serving_cache_bytes", SERVING_GROUP_CACHE_BYTES
    )
    try:
        if isinstance(raw, bool) or not isinstance(raw, (int, str)):
            raise TypeError(type(raw).__name__)
        budget = int(raw)
    except (TypeError, ValueError):
        raise ValueError(
            f"serving_cache_bytes={raw!r} is not an integer byte count"
        ) from None
    if budget < 0:
        raise ValueError(f"serving_cache_bytes={budget} is negative (0 disables)")
    return budget

#: Serving-cache capacity (open parquet handles / shard-dir listings).
#: Eviction is LRU per entry — a hot handle must survive a sweep of cold
#: opens (VERDICT r6 item 3: wholesale clears thrashed >512-file domains).
SERVING_CACHE_CAP = 512

#: Cross-shard fanout width for the local serving probe. The
#: reference's multiGet groups keys by host and probes every host group
#: CONCURRENTLY (``do-pmap`` over the host map, keyval/core.clj:118-134)
#: — a serial shard loop would make a 1000-key batch pay the sum of the
#: per-shard latencies instead of the max. The probe body is
#: thread-safe by construction (per-file handle locks, locked LRU
#: caches) and its heavy work is GIL-releasing pyarrow C++, so a small
#: shared pool parallelizes for real.
SERVING_FANOUT_THREADS = 8

#: Process-shared fanout pool for every domain (see
#: Domain._fanout_pool). Never shut down — it is process infrastructure,
#: like the reference's one server pool across all loaded domains.
_FANOUT_POOL = None
_FANOUT_POOL_LOCK = threading.Lock()


def _shared_fanout_pool():
    global _FANOUT_POOL
    if _FANOUT_POOL is None:
        with _FANOUT_POOL_LOCK:
            if _FANOUT_POOL is None:
                from concurrent.futures import ThreadPoolExecutor

                _FANOUT_POOL = ThreadPoolExecutor(
                    max_workers=SERVING_FANOUT_THREADS,
                    thread_name_prefix="edb-serve",
                )
    return _FANOUT_POOL


#: bulk_join auto-tuning (VERDICT r6 item 1): pick ``tasks_per_shard`` so
#: one task's probe slice stays around this many rows …
BULK_PROBE_ROWS_PER_TASK = 2_000_000
#: … and bound task memory INDEPENDENTLY of the probe estimate by probing
#: in chunks of ~this many buffered rows. ``pc.index_in`` rebuilds its
#: hash table per call (O(shard rows)), so the chunk is deliberately
#: large: at the target slice size that is ≤ 2 rebuilds per task — total
#: work ~2× probe — while a mis-estimated (or adversarially huge) probe
#: slice can no longer OOM the task.
BULK_PROBE_CHUNK_ROWS = 1_000_000
#: Parallelism arm of the auto-tune: lift m toward cluster parallelism
#: only when every resulting task still gets at least this many probe
#: rows — smaller probes don't amortize the broadcast-routing overhead.
BULK_MIN_ROWS_PER_TASK = 25_000
#: Ceiling on auto-chosen sub-shard parallelism; bounds the broadcast cut
#: table at num_shards×this rows and the task count at the same product
#: (a 64-shard domain tops out at 8192 tasks — cluster-scale fan-out;
#: shards without enough row groups degrade to fewer real slices).
BULK_MAX_TASKS_PER_SHARD = 128


def estimate_plan_rows(df: DataFrame) -> int | None:
    """Driver-side probe-size estimate from Catalyst statistics — never
    triggers a job. Exact ``rowCount`` when the optimizer knows it (CBO /
    local relations), else ``sizeInBytes`` over the schema's estimated
    row width (file sources report real byte sizes). Returns None when
    the plan's size is the unknown-leaf sentinel (conf
    ``defaultSizeInBytes`` ~ Long.MaxValue) — callers decide their own
    conservative fallback rather than trust it."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    size = int(str(stats.sizeInBytes()))
    if size >= 1 << 60:  # unknown-leaf sentinel propagated through the plan
        return None
    row_bytes = max(1, df._jdf.schema().defaultSize())
    return max(1, size // row_bytes)


def estimate_leaf_file_rows(df: DataFrame, max_footers: int = 8) -> int | None:
    """Footer-known PRE-filter row estimate of a plan's file-source
    leaves (VERDICT r7 item 7). :func:`estimate_plan_rows` divides the
    scan's ``sizeInBytes`` (compressed on-disk bytes) by the schema's
    estimated UNCOMPRESSED row width, a measured ~6× row under-count on
    sf0.01 lineitem — and since non-CBO Catalyst propagates ``sizeInBytes``
    through filters unchanged, no selectivity information offsets it.
    Under-counting is memory-safe (the chunked probe bounds task memory)
    but starves the parallelism arm of :meth:`Domain._auto_tasks_per_shard`
    on mid-sized probes, so that arm floors its row figure here: total
    on-disk bytes (exact, from the relation) × rows-per-byte sampled from
    ≤``max_footers`` parquet footers (exact row counts, ~KB reads, no
    job). Returns None for non-file plans (LogicalRDD, local relations)
    or on any access failure — an estimator must degrade to "unknown",
    never fail the query at plan time."""
    try:
        import pyarrow.parquet as pq

        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        sampled_rows = 0
        sampled_bytes = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                continue
            rel = leaf.relation()
            if rel.getClass().getSimpleName() != "HadoopFsRelation":
                continue
            files = list(rel.location().inputFiles())
            if not files:
                continue
            step = max(1, len(files) // max_footers)
            for fp in files[::step][:max_footers]:
                if fp.startswith("file:"):
                    fp = fp[len("file:"):]
                elif "://" in fp:  # remote fs: no driver-side footer path
                    return None
                sampled_rows += pq.read_metadata(fp).num_rows
                sampled_bytes += os.path.getsize(fp)
            total += int(str(rel.sizeInBytes()))
        if not sampled_bytes or not total:
            return None
        return max(1, int(total * (sampled_rows / sampled_bytes)))
    except Exception:  # reflection/footer access is best-effort by contract
        return None


def rg_bound_index(meta, key_index: int):
    """One footer walk per file OPEN, reused by every probe (VERDICT r6
    item 2): ``pf.metadata.row_group(i).column(j).statistics``
    deserializes Thrift metadata on every access, so the per-probe
    O(num_row_groups) stats walk was the serving hot path's cost center
    on fragmented domains. Returns ``(mins, maxs, rgs, statless)`` —
    parallel arrays of key min/max bounds for row groups WITH stats (in
    file order, which is key order: shard files are key-sorted) plus the
    rare stats-less row-group indexes (probed conservatively). Parquet
    truncates long binary stats conservatively (min down, max up), so
    adjacent bounds may overlap at truncation boundaries — probes must
    treat bounds as conservative containment, not exact ranges."""
    mins: list[bytes] = []
    maxs: list[bytes] = []
    rgs: list[int] = []
    statless: list[int] = []
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(key_index).statistics
        if st is not None and st.has_min_max:
            mins.append(st.min)
            maxs.append(st.max)
            rgs.append(rg)
        else:
            statless.append(rg)
    return mins, maxs, rgs, statless


def slice_row_groups(pf, key_index: int, lo, hi) -> list[int]:
    """Row groups of a key-sorted shard file whose key min/max stats
    overlap the slice ``[lo, hi)`` (None = open bound); row groups
    without stats are included conservatively. Shared by bulk_join's
    sub-shard tasks and the bounded-per-task-memory tests — the rule
    that makes ``tasks_per_shard`` memory-safe must have exactly one
    implementation."""
    out = []
    for rg in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(rg).column(key_index).statistics
        if st is not None and st.has_min_max:
            if lo is not None and st.max < lo:
                continue
            if hi is not None and st.min >= hi:
                continue
        out.append(rg)
    return out

KV_SCHEMA = StructType(
    [
        StructField("key", BinaryType(), False),
        StructField("value", BinaryType(), True),
    ]
)

KV_SHARD_SCHEMA = StructType(
    list(KV_SCHEMA.fields) + [StructField("shard", IntegerType(), True)]
)


class DomainNotFoundError(KeyError):
    """Unknown domain (thrift DomainNotFoundException, core.thrift:44-47)."""


class DomainNotLoadedError(RuntimeError):
    """Domain exists but has no published version
    (thrift DomainNotLoadedException)."""


class WrongHostError(RuntimeError):
    """directMultiGet asked a shard set that doesn't own the key
    (thrift WrongHostException, core.thrift:53-55; core.clj:154-155)."""


class Domain:
    """Read handle over one published domain (common/domain.clj:286-318)."""

    def __init__(self, spark: SparkSession, root: str, name: str | None = None):
        if not DomainSpec.exists(root):
            raise DomainNotFoundError(root)
        self.spark = spark
        self.root = root
        self.name = name or os.path.basename(root.rstrip("/"))
        self.store = DomainStore.open(root)
        # pluggable hooks resolved once per handle (DomainSpec.java:46-62)
        self._scheme = resolve_scheme(self.store.spec.shard_scheme)
        self._fmt = resolve_format(self.store.spec.persistence_format)
        # Published version dirs are immutable, so the resolved scan
        # DataFrame (file listing + schema) for a (version, shard-set) can
        # be reused across point reads — the serving pattern is many gets
        # against one version, and re-listing the shard dir per get is pure
        # fixed overhead. Bounded; hot-swap safety comes from keying on the
        # resolved version id.
        self._read_cache: dict[tuple[int, tuple[int, ...]], DataFrame] = {}
        # open pyarrow handles for the local serving probe (shard files are
        # immutable; see _open_shard_file). The reference serves with 64
        # Thrift worker threads (common/thrift.clj:111-118), so the local
        # probe must be callable concurrently: _pq_lock guards the cache
        # dict, and each entry carries a per-file lock because a pyarrow
        # ParquetFile handle is NOT safe for concurrent reads (two threads
        # in read_row_group on one handle race the underlying reader).
        # Distinct shard files still probe fully in parallel.
        # LRU (VERDICT r6 item 3): a hot serving process over a >512-file
        # domain — exactly the fragmented shape repeated A20 appends
        # produce — must evict cold entries one at a time, not thrash its
        # own hot handles with a wholesale clear.
        self._pq_cache: "OrderedDict[str, tuple[object, threading.Lock, int, list]]" = (
            OrderedDict()
        )
        # immutable shard-dir listings for published versions (the probe
        # must not pay listdir syscalls per lookup); same lock + LRU
        self._dir_cache: "OrderedDict[str, list[str]]" = OrderedDict()
        self._pq_lock = threading.Lock()
        # decoded-row-group cache for the local serving probe: hot groups
        # answer from in-memory Arrow arrays (a C-side hash probe) instead
        # of re-decoding the group per call — the analogue of BDB JE's
        # node cache the reference's serving layer sits on
        # (JavaBerkDB.java:70-82). Byte-bounded LRU; entries are immutable
        # (keyed by published-version file path + group index) and the
        # whole cache drops on version change with the other caches.
        # An entry is (karr, varr, nbytes) for a whole group, or
        # (rows, None, nbytes) for a row entry: a dict of the rows probes
        # found in a group the cache had no room for.
        self._rg_cache: "OrderedDict[tuple[str, int], tuple]" = OrderedDict()
        self._rg_cache_nbytes = 0
        self._rg_cache_lock = threading.Lock()
        try:
            self._rg_cache_budget = serving_cache_budget(self.store.spec)
        except ValueError as exc:
            # new specs reject this (build.check_new_spec); one persisted
            # before the check still opens, as it always did: a negative
            # budget disables the cache, a non-integer takes the default
            raw = self.store.spec.persistence_opts["serving_cache_bytes"]
            try:
                self._rg_cache_budget = max(int(raw), 0)
            except (TypeError, ValueError):
                self._rg_cache_budget = SERVING_GROUP_CACHE_BYTES
            warnings.warn(
                f"domain {self.name}: {exc}; serving with a "
                f"{self._rg_cache_budget}-byte cache",
                stacklevel=2,
            )
        self._serving_stats = dict.fromkeys(SERVING_STATS, 0)
        self._serving_stats_lock = threading.Lock()
        # concurrent local_multi_get caller count (fanout admission gate
        # — see local_multi_get's dispatch comment)
        self._probe_callers = 0
        self._fanout_count_lock = threading.Lock()
        # published-version snapshot — when it changes, caches drop (see
        # _resolve_version)
        self._seen_versions: tuple[int, ...] = ()
        # status machine: shutdown is per-handle process state
        self._is_shutdown = False

    # -- version/catalog metadata -------------------------------------------
    @property
    def spec(self) -> DomainSpec:
        return self.store.spec

    def versions(self) -> list[int]:
        return self.store.all_versions()

    def current_version(self) -> int | None:
        return self.store.most_recent_version()

    def status(self) -> str:
        """The A27 status machine (common/status.clj:5-45), derived from
        observable on-disk state rather than process state so a restarted
        reader sees the same machine:

        * ``shutdown`` — handle shut down (to-shutdown);
        * ``failed`` — last build/update recorded a failure marker and no
          publish has superseded it (to-failed knocks out every other
          status);
        * ``updating`` — an unpublished version dir exists alongside a
          published one (to-loading from ready);
        * ``loading`` — an unpublished version dir exists and nothing is
          published yet (to-loading from cold);
        * ``ready`` — a published version exists;
        * ``idle`` — empty domain, nothing in flight (no reference
          analogue; their daemons always start loading immediately).
        """
        if self._is_shutdown:
            return "shutdown"
        if self.store.last_failure() is not None:
            return "failed"
        published = self.current_version() is not None
        if self.store.unpublished_versions():
            return "updating" if published else "loading"
        return "ready" if published else "idle"

    # predicate surface mirroring IStatus (status.clj:5-13): ready? is true
    # while updating (an updating domain keeps serving the old version),
    # loading? is true while updating, updating? = loading? AND ready?
    def is_ready(self) -> bool:
        return self.status() in ("ready", "updating")

    def is_loading(self) -> bool:
        return self.status() in ("loading", "updating")

    def is_updating(self) -> bool:
        return self.status() == "updating"

    def is_failed(self) -> bool:
        return self.status() == "failed"

    def can_serve(self) -> bool:
        """True iff a published version exists to read from (and the
        handle is not shut down) — independent of the failure marker.
        The durable ``_failed.json`` keeps ``status()`` at 'failed' until
        the next successful publish, which is stricter than the
        reference (there failure is process state that a restart
        clears); the serving surfaces (``Engine.register_views``,
        ``is_fully_loaded``) therefore route on ``can_serve`` so a
        transient update failure never takes a healthy published
        version out of the catalog."""
        return not self._is_shutdown and self.current_version() is not None

    def is_shutdown(self) -> bool:
        return self.status() == "shutdown"

    def shutdown(self) -> None:
        """to-shutdown (status.clj:16): mark the handle; status reports
        'shutdown' and callers should stop routing reads here. Later
        probes on the handle run serially (see :meth:`_fanout_pool`)."""
        self._is_shutdown = True

    def shard_set(self, version: int | None = None) -> list[int]:
        """Shard ids materialized in a version (shard-set,
        common/metadata.clj:18; common/domain.clj). Shards with zero rows
        have no directory — same as the reference, where an empty shard's
        persistence is never created."""
        try:
            v = self._resolve_version(version)
        except DomainNotLoadedError:
            return []
        vpath = self.store.version_path(v)
        out = []
        for name in os.listdir(vpath):
            if name.startswith("shard="):
                try:
                    out.append(int(name.split("=", 1)[1]))
                except ValueError:
                    continue
        return sorted(out)

    def metadata(
        self, hosts: list[str] | None = None, replication: int = 1
    ) -> dict:
        """Catalog metadata (A28, DomainMetaData —
        common/metadata.clj:14-26): spec, versions, status, the
        materialized shard set, and — when a serving topology is supplied —
        the round-robin shard→host assignment view
        (common/shard.clj:8-41 via :mod:`elephantdb_spark.assignment`).
        Spark owns actual placement at runtime; the assignment view is the
        reference's observable contract for external routers."""
        meta = {
            "name": self.name,
            "root": self.root,
            "spec": self.spec.to_dict(),
            "versions": self.versions(),
            "current_version": self.current_version(),
            "status": self.status(),
            "shard_set": self.shard_set(),
        }
        if hosts is not None:
            from elephantdb_spark.assignment import generate_index

            idx = generate_index(hosts, self.spec.num_shards, replication)
            meta["shard_assignment"] = {
                "hosts_to_shards": {
                    h: sorted(s) for h, s in idx["hosts_to_shards"].items()
                },
                "shards_to_hosts": {
                    s: sorted(h) for s, h in idx["shards_to_hosts"].items()
                },
            }
        return meta

    # -- internals -----------------------------------------------------------
    def _resolve_version(self, version: int | None = None) -> int:
        # every resolution observes the live published-version set; when it
        # changes (new version published, old versions GC'd) both caches
        # are dropped wholesale — cached DataFrames for deleted version
        # dirs would fail, and cached parquet handles would keep deleted
        # shard files' disk blocks allocated for the handle's lifetime
        versions = tuple(self.store.all_versions())
        if versions != self._seen_versions:
            self._seen_versions = versions
            self._read_cache.clear()
            with self._pq_lock:
                self._pq_cache.clear()
                self._dir_cache.clear()
            with self._rg_cache_lock:
                self._rg_cache.clear()
                self._rg_cache_nbytes = 0
        if version is not None:
            if int(version) not in versions:
                raise DomainNotLoadedError(
                    f"domain {self.name}: version {version} not published"
                )
            return int(version)
        if not versions:
            raise DomainNotLoadedError(f"domain {self.name} has no published version")
        return versions[0]

    def _empty_kv(self, with_shard: bool = True) -> DataFrame:
        schema = KV_SHARD_SCHEMA if with_shard else KV_SCHEMA
        return self.spark.createDataFrame([], schema)

    def _pruned_read(self, shards: list[int], version: int | None = None) -> DataFrame:
        """Read only the given shard directories of a version — the Spark
        analogue of key→shard→single-B-tree-probe routing
        (common/domain.clj:243-259)."""
        v = self._resolve_version(version)
        cache_key = (v, tuple(sorted(set(shards))))
        cached = self._read_cache.get(cache_key)
        if cached is not None:
            return cached
        vpath = self.store.version_path(v)
        paths = [
            os.path.join(vpath, shard_dirname(s))
            for s in sorted(set(shards))
            if os.path.isdir(os.path.join(vpath, shard_dirname(s)))
        ]
        if not paths:
            return self._empty_kv()
        # explicit schema: skips per-query footer reads / schema inference
        df = (
            self.spark.read.schema("key binary, value binary")
            .option("basePath", vpath)
            .format(self._fmt)
            .load(paths)
            .select("key", "value", F.col("shard").cast("int").alias("shard"))
        )
        if len(self._read_cache) >= 256:
            self._read_cache.clear()
        self._read_cache[cache_key] = df
        return df

    def _keys_df(self, keys: list[bytes]) -> DataFrame:
        rows = [(bytes(k),) for k in keys]
        return self.spark.createDataFrame(
            rows, StructType([StructField("key", BinaryType(), False)])
        )

    @staticmethod
    def _key_in_filter(keys: list[bytes]):
        """key-membership predicate. Large key sets go through one SQL
        `IN (X'..', ...)` expression — a single Py4J call — instead of
        `Column.isin`, which converts every literal in its own JVM round
        trip (~1 ms each, so ~1 s of pure driver overhead at 1000 keys).
        Both compile to the same InSet + pushed Parquet filter."""
        if len(keys) <= 32:
            return F.col("key").isin([bytes(k) for k in keys])
        return F.expr(
            "key IN (" + ",".join("X'%s'" % bytes(k).hex() for k in keys) + ")"
        )

    # -- reads ----------------------------------------------------------------
    def scan(self, version: int | None = None) -> DataFrame:
        """Full scan of all shards (A11/A14, ElephantInputFormat.java:165-184;
        common/domain.clj:289-293). Returns (key, value, shard); within-file
        row order is the shard's key order (A13)."""
        v = self._resolve_version(version)
        vpath = self.store.version_path(v)
        # a validly published EMPTY version has no shard=<i> dirs at all —
        # partition discovery then can't resolve the `shard` column
        if not any(name.startswith("shard=") for name in os.listdir(vpath)):
            return self._empty_kv()
        return (
            self.spark.read.schema("key binary, value binary")
            .option("basePath", vpath)
            .format(self._fmt)
            .load(vpath)
            .select("key", "value", F.col("shard").cast("int").alias("shard"))
        )

    def multi_get_df(
        self, keys: list[bytes], version: int | None = None
    ) -> DataFrame:
        """multiGet as a miss-preserving broadcast left join against only the
        shards the keys hash to (A2, core.clj:118-134). Returns one row per
        requested key: (key, value) with value null on miss."""
        if not keys:
            return self.spark.createDataFrame([], KV_SCHEMA)
        n = self.spec.num_shards
        shards = sorted({self._scheme.shard_index(k, n) for k in keys})
        key_lits = [bytes(k) for k in keys]
        # Key-equality is pushed into the Parquet scan (row-group min/max
        # skipping over key-sorted files), so the matched side is ≤ len(keys)
        # rows regardless of domain size — then broadcast it under the
        # miss-preserving left join.
        matched = (
            self._pruned_read(shards, version)
            .filter(self._key_in_filter(key_lits))
            .drop("shard")
        )
        keys_df = self._keys_df(keys)
        return keys_df.join(F.broadcast(matched), on="key", how="left").select(
            "key", "value"
        )

    def _subshard_cuts(
        self, vpath: str, tasks_per_shard: int
    ) -> dict[int, list[bytes]]:
        """Per-shard key-range cut points for sub-shard parallel reads:
        shard p's key space is split at row-group boundaries into up to
        ``tasks_per_shard`` contiguous slices of ~equal row count, using
        the Parquet footers' key min/max statistics (files are key-sorted
        at build time, so row-group stats are tight). Parquet truncates
        long binary stats conservatively (min rounds down, max rounds
        up), so cuts and overlap checks stay correct — merely less even.
        Row groups without stats are excluded from cut derivation (each
        sub-task conservatively loads them). Returns {shard: [cut, ...]}
        with 0..tasks_per_shard-1 strictly-increasing cuts per shard;
        slice j covers [cut[j-1], cut[j]) with open outer bounds.

        Footers are read TRANSIENTLY (``pq.read_metadata``), never
        through the bounded ``_open_shard_file`` serving cache (ADVICE
        r6: cut derivation over a fragmented many-file domain would
        churn hot probe handles). Parallelism is ADAPTIVE: the first
        footer read is timed, and only when it looks I/O-latency-bound
        (cold page cache / network storage — where a 64-shard fragmented
        domain's serial walk is a real plan-time stall, VERDICT r6
        item 7) do the rest fan out over a thread pool; warm local
        footers parse in ~0.2 ms of GIL-holding C++ where a 16-thread
        pool measured ~10× SLOWER than the serial loop (r7: 0.22 s vs
        0.022 s over 192 files)."""
        import time

        import pyarrow.parquet as pq

        n = self.spec.num_shards
        m = tasks_per_shard
        jobs: list[tuple[int, str]] = []
        for p in range(n):
            sdir = os.path.join(vpath, shard_dirname(p))
            for fname in self._shard_file_list(sdir):
                jobs.append((p, os.path.join(sdir, fname)))

        def footer_entries(job: tuple[int, str]):
            p, path = job
            meta = pq.read_metadata(path)
            key_idx = meta.schema.to_arrow_schema().get_field_index("key")
            mins, _maxs, rgs, _statless = rg_bound_index(meta, key_idx)
            return p, [
                (mn, meta.row_group(rg).num_rows)
                for mn, rg in zip(mins, rgs)
            ]

        per_file = []
        if jobs:
            t0 = time.perf_counter()
            per_file.append(footer_entries(jobs[0]))
            first_dt = time.perf_counter() - t0
            rest = jobs[1:]
            if len(rest) > 8 and first_dt > 0.002:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(16, len(rest))
                ) as pool:
                    per_file.extend(pool.map(footer_entries, rest))
            else:
                per_file.extend(footer_entries(j) for j in rest)
        entries_by_shard: dict[int, list[tuple[bytes, int]]] = {
            p: [] for p in range(n)
        }
        for p, chunk in per_file:
            entries_by_shard[p].extend(chunk)
        cuts_by_shard: dict[int, list[bytes]] = {}
        for p in range(n):
            entries = sorted(entries_by_shard[p], key=lambda e: e[0])
            total = sum(rows for _, rows in entries)
            cuts: list[bytes] = []
            # walk entries; a cut can only land on a row-group min so a
            # row group is never split between slices
            cum = 0
            for i, (mn, rows) in enumerate(entries):
                if (
                    i > 0
                    and len(cuts) < m - 1
                    and cum * m >= (len(cuts) + 1) * total
                    and (not cuts or mn > cuts[-1])
                ):
                    cuts.append(mn)
                cum += rows
            cuts_by_shard[p] = cuts
        return cuts_by_shard

    def _auto_tasks_per_shard(self, df: DataFrame) -> int:
        """Pick ``tasks_per_shard`` for the DEFAULT bulk_join plan
        (VERDICT r6 item 1 — the m=1 default starved parallelism and
        buffered corpus-sized probe slices; the scale-safe m must be the
        default, not opt-in). Two arms, take the max:

        * memory: m so one task's probe slice is about
          :data:`BULK_PROBE_ROWS_PER_TASK` rows;
        * parallelism (the r6-measured starvation: 8 shard-tasks on 32
          cores ran 11.4× at 10×, m=4 ran 3.2×): m lifting the task
          count to the cluster's default parallelism — lowered (not
          zeroed) to the LARGEST m whose every task still gets ≥
          :data:`BULK_MIN_ROWS_PER_TASK` probe rows, so mid-sized probes
          get partial parallelism and small probes never pay the
          broadcast-routing overhead.

        Probe size comes from Catalyst statistics
        (:func:`estimate_plan_rows` — no job). Unknown-size plans
        (LogicalRDD's defaultSizeInBytes sentinel — in this API surface
        that is ``createDataFrame``/RDD-backed probes, i.e. data that
        was driver-resident to begin with) choose m=1: parquet-backed
        corpus probes — the shape the sub-sharding exists for — always
        carry real byte sizes, and a mis-guess can no longer OOM a task
        (the chunked probe bounds memory independently of m); it only
        costs parallelism. Clamped to
        [1, :data:`BULK_MAX_TASKS_PER_SHARD`]; the no-cut-points degrade
        in :meth:`bulk_join` still applies afterwards, so a small domain
        never pays the routing overhead."""
        n = self.spec.num_shards
        # r7 item 7 (+ r8 review): the byte-width estimate under-counts
        # file-backed probes ~6× (compressed bytes ÷ uncompressed width),
        # filters don't scale it either way (non-CBO), AND one RDD leaf
        # anywhere in the plan (a createDataFrame lookup joined into a
        # parquet probe) poisons the whole plan with the unknown-size
        # sentinel — so the footer-known PRE-filter rows of the file
        # leaves are consulted in BOTH cases, not just as a floor on a
        # known estimate. Over-picking m on a selective probe costs
        # bounded routing overhead (m ≤ cap, no-cut degrade still
        # applies); under-picking starves parallelism. m=1 only when the
        # plan has neither usable stats nor file leaves (genuinely
        # driver-resident data).
        rows = estimate_plan_rows(df)
        floor = estimate_leaf_file_rows(df)
        if floor is not None:
            rows = max(rows or 0, floor)
        if not rows:
            return 1
        m_mem = -(-rows // (n * BULK_PROBE_ROWS_PER_TASK))
        m_par = -(-self.spark.sparkContext.defaultParallelism // n)
        m_par = max(1, min(m_par, rows // (n * BULK_MIN_ROWS_PER_TASK)))
        return max(1, min(BULK_MAX_TASKS_PER_SHARD, max(m_mem, m_par)))

    def bulk_join(
        self,
        df: DataFrame,
        key_col: str,
        value_alias: str = "value",
        version: int | None = None,
        tasks_per_shard: int | None = None,
    ) -> DataFrame:
        """Enrich a corpus-sized probe frame against this domain — the
        scale path multiGet stops short of: ``multi_get_df`` broadcasts
        the key set, which caps it at driver-collectable sizes, while a
        plain join against ``scan()`` shuffles BOTH sides. Here the probe
        side pays exactly ONE exchange — partitioned by the domain's own
        md5-mod shard map via the exact 1:1 slot placement
        (sharding.exact_partition_slots), so task p receives precisely
        the keys that hash to shard p — and each task then opens its
        ``shard=<p>`` files directly with pyarrow and hash-joins locally.
        The domain side never touches an exchange at any corpus size:
        this is the bulk analogue of the reference's shard-routed read
        (common/domain.clj:243-259) applied to a whole DataFrame.

        Returns ``df``'s columns plus ``value_alias`` (binary; null on
        miss — multiGet's miss-preserving semantics). NULL probe keys get
        a null value. Duplicate DOMAIN keys (possible only under
        dedup='none' builds) yield exactly ONE value per probe row —
        first-match semantics; which duplicate wins is unspecified but
        both the parquet path (pc.index_in = first occurrence) and the
        fallback (dropDuplicates before the join) never multiply probe
        rows. Memory shape: one task holds one shard's KV pairs
        (the serving-host sizing rule — a shard fits a host by design;
        reference loads shards into local stores the same way,
        JavaBerkDB.java:40-56). Parquet domains only; other formats fall
        back to a shuffle join against ``scan()``.

        ``tasks_per_shard=m`` (parquet only) lifts the num_shards
        parallelism cap for probe corpora much larger than the domain
        (VERDICT r5 item 2): each shard's key space is split at
        row-group boundaries into m contiguous slices (cut keys from the
        Parquet footers — files are key-sorted, so row-group min/max
        stats are tight), probe rows route to slice ``shard*m + j`` by a
        broadcast range join against the (n·m)-row cut table, and each
        task pyarrow-reads ONLY the row groups overlapping its slice.
        Still exactly ONE probe-side shuffle exchange; per-task memory
        drops to ~(probe/(n·m) + shard/m) rows. When NO shard has a cut
        point (single-row-group shard files — small domains), the call
        degrades to the plain path automatically: slicing could not
        reduce per-task reads, so the routing would be pure overhead.

        ``tasks_per_shard=None`` (the DEFAULT, VERDICT r6 item 1)
        auto-selects m from Catalyst's probe-size estimate so one task's
        probe slice is ~:data:`BULK_PROBE_ROWS_PER_TASK` rows
        (:meth:`_auto_tasks_per_shard`); pass an int to override. Task
        memory is additionally bounded INDEPENDENTLY of the estimate:
        tasks probe in large bounded chunks
        (:data:`BULK_PROBE_CHUNK_ROWS`) instead of buffering their whole
        probe slice, so a mis-estimated or adversarial probe costs extra
        O(shard-slice) hash rebuilds — never task memory."""
        if key_col not in df.columns:
            raise ValueError(f"column {key_col!r} not in frame: {df.columns}")
        if dict(df.dtypes)[key_col] != "binary":
            raise ValueError(
                f"{key_col!r} must be binary (domain keys are bytes), got "
                f"{dict(df.dtypes)[key_col]}"
            )
        if value_alias in df.columns:
            raise ValueError(
                f"output column {value_alias!r} already exists in the frame"
            )
        clash = {"__shard", "__slot", "__sub", "__lo", "__hi"}.intersection(
            df.columns
        )
        if clash:
            raise ValueError(
                f"columns {sorted(clash)} collide with bulk_join's internal "
                "columns — alias them first"
            )
        if tasks_per_shard is not None and tasks_per_shard < 1:
            raise ValueError(
                f"tasks_per_shard must be >= 1, got {tasks_per_shard}"
            )
        if self._fmt != "parquet":
            dk = "__dk"
            while dk in df.columns or dk == value_alias:
                dk += "_"
            # ONE value per probe key, matching the parquet path's
            # first-match semantics (pc.index_in returns the first hit):
            # a domain built with dedup='none' that carries duplicate keys
            # must not multiply probe rows. Which duplicate wins is
            # unspecified in both paths — LWW-built domains (the default)
            # have unique keys, so the rule only matters for dedup='none'.
            matched = self.scan(version).drop("shard").dropDuplicates(
                ["key"]
            ).withColumnRenamed("key", dk).withColumnRenamed(
                "value", value_alias
            )
            return df.join(
                matched, df[key_col] == F.col(dk), "left"
            ).drop(dk)
        import pandas as pd  # noqa: F401 - worker-side dependency

        from elephantdb_spark.sharding import with_slot_column

        v = self._resolve_version(version)
        vpath = self.store.version_path(v)
        n = self.spec.num_shards
        # NULL keys route to shard 0 (not a NULL shard: with_slot_column's
        # broadcast-join path at high shard counts would silently DROP
        # null-shard rows); the per-row null guard in the task yields a
        # null value for them regardless of which shard's task runs them
        shard_expr = F.when(F.col(key_col).isNull(), F.lit(0)).otherwise(
            self._scheme.shard_col(F.col(key_col), n)
        )
        m = (
            self._auto_tasks_per_shard(df)
            if tasks_per_shard is None
            else tasks_per_shard
        )
        if m > 1:
            cuts_by_shard = self._subshard_cuts(vpath, m)
            if not any(cuts_by_shard.values()):
                # no shard has a single cut point (every shard file is
                # one row group — small domains under the default
                # 128 MB parquet block): slicing cannot reduce per-task
                # reads, so the broadcast routing would be pure
                # overhead. Degrade to the plain path.
                m = 1
        sharded = df.withColumn("__shard", shard_expr)
        if m > 1:
            from elephantdb_spark.sharding import exact_partition_slots
            # the broadcast table carries the FINAL exact-placement slot
            # per (shard, slice), so the md5 shard expression has
            # exactly ONE consumer (the join key) — routing it through a
            # downstream `__shard * m + __sub` projection lets
            # CollapseProject inline the expensive md5 expr into every
            # consumer and evaluate it twice per row (measured: +90% on
            # the whole probe stage at 6M rows)
            slots = exact_partition_slots(n * m)
            ranges = []
            for p in range(n):
                cl = cuts_by_shard[p]
                for j in range(len(cl) + 1):
                    ranges.append((
                        p, j,
                        bytearray(cl[j - 1]) if j > 0 else None,
                        bytearray(cl[j]) if j < len(cl) else None,
                        slots[p * m + j],
                    ))
            cuts_df = self.spark.createDataFrame(
                ranges,
                "__shard int, __sub int, __lo binary, __hi binary, __slot int",
            )
            k = F.col(key_col)
            # every probe row matches EXACTLY one slice: the slices
            # partition each shard's key space (open outer bounds), and
            # NULL keys — which binary comparisons evaluate to NULL —
            # get the explicit sub-0 arm
            # eqNullSafe: plain `=` makes the inner join INFER an
            # isnotnull(shard_expr) Filter — a separate operator, so
            # per-operator subexpression elimination re-evaluates the
            # md5 expression there (measured: 2x the probe-stage cost).
            # The shard expr is never null by construction (NULL keys
            # CASE to 0), so null-safe equality is semantically
            # identical and suppresses the inferred filter.
            cond = (sharded["__shard"].eqNullSafe(cuts_df["__shard"])) & (
                (k.isNull() & (cuts_df["__sub"] == 0))
                | (
                    (cuts_df["__lo"].isNull() | (k >= cuts_df["__lo"]))
                    & (cuts_df["__hi"].isNull() | (k < cuts_df["__hi"]))
                )
            )
            probe = (
                sharded.join(F.broadcast(cuts_df), cond)
                .repartition(n * m, F.col("__slot"))
                .drop(cuts_df["__shard"])
                .drop("__lo", "__hi", "__sub", "__slot", "__shard")
            )
        else:
            probe = with_slot_column(
                self.spark, sharded, n, "__shard"
            ).repartition(n, F.col("__slot")).drop("__slot", "__shard")
        out_cols = list(df.columns)
        dtypes = dict(df.dtypes)
        schema = ", ".join(
            [f"`{c}` {dtypes[c]}" for c in out_cols] + [f"`{value_alias}` binary"]
        )
        cuts_closure = cuts_by_shard if m > 1 else None
        chunk_rows = BULK_PROBE_CHUNK_ROWS

        def run(batches):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq
            from pyspark import TaskContext

            # Probe in LARGE bounded chunks (VERDICT r6 item 1b): a
            # whole-partition buffer made task memory proportional to
            # the probe slice — OOM when the estimate is wrong or the
            # caller forces a small m on a corpus-sized probe. index_in
            # rebuilds its hash table per call (O(shard-slice rows)), so
            # the chunk is deliberately large — per-10k-Arrow-batch
            # probing would re-hash the shard ~(partition/10k) times,
            # while ~1M-row chunks keep total work ~2× probe. Memory =
            # one chunk + one shard slice, independent of probe size.
            batch_iter = iter(batches)
            first = next(batch_iter, None)
            if first is None:
                return  # empty partition: never touch the filesystem
            if not os.path.isdir(vpath):
                # an EMPTY shard merely lacks its shard=<p> dir; the
                # version dir itself vanishing means the pinned version
                # was GC'd after plan construction — all-null results
                # would be a silent 100% miss, so fail loudly like the
                # Spark read paths do
                raise RuntimeError(
                    f"domain version dir disappeared: {vpath} (GC'd "
                    "after bulk_join was planned?)"
                )
            pid = TaskContext.get().partitionId()
            shard, sub = divmod(pid, m)
            sdir = os.path.join(vpath, shard_dirname(shard))
            if cuts_closure is None:
                lo = hi = None
            else:
                cl = cuts_closure.get(shard, [])
                lo = bytes(cl[sub - 1]) if sub > 0 else None
                hi = bytes(cl[sub]) if sub < len(cl) else None
            tables = []
            if os.path.isdir(sdir):
                for fname in sorted(os.listdir(sdir)):
                    if not fname.endswith(".parquet"):
                        continue
                    fpath = os.path.join(sdir, fname)
                    if lo is None and hi is None:
                        tables.append(pq.read_table(
                            fpath, columns=["key", "value"],
                        ))
                        continue
                    # slice read: only row groups whose key stats
                    # overlap [lo, hi) — stats-less row groups load
                    # conservatively into every slice of the shard
                    pf = pq.ParquetFile(fpath)
                    ki = pf.schema_arrow.get_field_index("key")
                    rgs = slice_row_groups(pf, ki, lo, hi)
                    if rgs:
                        tables.append(pf.read_row_groups(
                            rgs, columns=["key", "value"],
                        ))
            if tables:
                kv = pa.concat_tables(tables).combine_chunks()
                shard_keys, shard_vals = kv.column("key"), kv.column("value")
            else:
                shard_keys = shard_vals = pa.array([], type=pa.binary())

            def probe(pdfs):
                pdf = (
                    pd.concat(pdfs, ignore_index=True)
                    if len(pdfs) > 1
                    else pdfs[0]
                )
                # C-side conversion + hash probe: BinaryType arrives as
                # bytes/None, which pa.array converts directly — no
                # per-key python loop anywhere
                karr = pa.array(pdf[key_col], type=pa.binary())
                idx = pc.index_in(karr, value_set=shard_keys)
                pdf[value_alias] = pc.take(shard_vals, idx).to_pandas()
                return pdf[out_cols + [value_alias]]

            buf, buf_rows = [first], len(first)
            for pdf in batch_iter:
                if buf_rows >= chunk_rows:
                    yield probe(buf)
                    buf, buf_rows = [], 0
                buf.append(pdf)
                buf_rows += len(pdf)
            if buf:
                yield probe(buf)

        return probe.mapInPandas(run, schema)

    def direct_multi_get_df(
        self,
        keys: list[bytes],
        shards: list[int],
        version: int | None = None,
    ) -> DataFrame:
        """directMultiGet: serve only from an explicit shard set; a key owned
        by another shard raises WrongHostError (A3, core.clj:148-155)."""
        n = self.spec.num_shards
        owned = set(shards)
        for k in keys:
            s = self._scheme.shard_index(k, n)
            if s not in owned:
                raise WrongHostError(
                    f"key routed to shard {s}, not in local shard set {sorted(owned)}"
                )
        if not keys:
            return self.spark.createDataFrame([], KV_SCHEMA)
        matched = (
            self._pruned_read(sorted(owned), version)
            .filter(self._key_in_filter(keys))
            .drop("shard")
        )
        keys_df = self._keys_df(keys)
        return keys_df.join(F.broadcast(matched), on="key", how="left").select(
            "key", "value"
        )

    def get(self, key: bytes, version: int | None = None) -> bytes | None:
        """Point get; miss → None (A1, core.clj:166-172; null semantics
        JavaBerkDB.java:75-81).

        Fast path: single pruned shard read + pushed key-equality filter +
        take(1) — no join, no broadcast (the miss-preserving join only
        matters for multi-key results)."""
        key = bytes(key)
        s = self._scheme.shard_index(key, self.spec.num_shards)
        rows = (
            self._pruned_read([s], version)
            .filter(F.col("key") == F.lit(key))
            .select("value")
            .take(1)
        )
        if not rows or rows[0].value is None:
            return None
        return bytes(rows[0].value)

    def multi_get(
        self, keys: list[bytes], version: int | None = None
    ) -> dict[bytes, bytes | None]:
        """multiGet → {key: value-or-None}, one entry per requested key."""
        rows = self.multi_get_df(keys, version).collect()
        return {
            bytes(r.key): (None if r.value is None else bytes(r.value)) for r in rows
        }

    # -- local serving path (no Spark job) ------------------------------------
    def local_multi_get(
        self, keys: list[bytes], version: int | None = None
    ) -> dict[bytes, bytes | None]:
        """Serving-layer reads without a Spark job: per key, open the ONE
        shard file it hashes to with pyarrow, skip row groups whose key
        min/max excludes it (files are key-sorted, so stats are tight), scan
        only the matching row group(s).

        This is the faithful analogue of the reference's serving read — a
        local persistence probe (JavaBerkDB.java:70-82), never a cluster
        job; Thrift daemons did exactly this per shard. ~100x lower latency
        than the Spark path for single keys (ms, not a job round-trip).
        Parquet domains only; ORC domains fall back to the Spark path.
        """
        if self._fmt != "parquet":
            return self.multi_get(keys, version)
        # lazy: pyarrow is only required by the local probe path, not by
        # importing the package
        import pyarrow as pa
        import pyarrow.compute as pc

        v = self._resolve_version(version)
        vpath = self.store.version_path(v)
        n = self.spec.num_shards
        by_shard: dict[int, list[bytes]] = {}
        for k in keys:
            by_shard.setdefault(self._scheme.shard_index(bytes(k), n), []).append(bytes(k))

        out: dict[bytes, bytes | None] = {bytes(k): None for k in keys}

        def _probe_shard(shard: int, shard_keys: list[bytes]) -> dict[bytes, bytes]:
            # Per shard file: (1) bisect to the candidate row groups,
            # (2) the decoded-group cache, (3) one Bloom decision before a
            # decode the cache would not keep whole, (4) a whole-group
            # decode — the analogue of the reference's one B-tree descent
            # per read (JavaBerkDB.java:70-82). Counters are summed here
            # and added to the handle's once, under its lock.
            hits: dict[bytes, bytes] = {}
            st = dict.fromkeys(SERVING_STATS, 0)
            sdir = os.path.join(vpath, shard_dirname(shard))
            targets = sorted(set(shard_keys))
            target_digs: bytes | None = None  # blake2b blob, built once
            for fname in self._shard_file_list(sdir):
                fpath = os.path.join(sdir, fname)
                pf, pf_lock, _key_idx, bounds, bloom, rg_sizes = (
                    self._open_shard_file(fpath)
                )
                # (1) Candidate row groups per key by BISECT over the
                # cached bound index (VERDICT r6 item 2: a per-probe
                # `.statistics` walk deserialized Thrift metadata
                # O(num_row_groups) times). Bounds are in key order
                # (key-sorted files); truncated stats may overlap at
                # boundaries, so after bisecting to the last row group
                # whose min ≤ key, walk back while max ≥ key.
                mins, maxs, stat_rgs, statless = bounds
                by_rg: dict[int, list[bytes]] = {}
                for k in targets:
                    j = bisect.bisect_right(mins, k) - 1
                    while j >= 0 and maxs[j] >= k:
                        by_rg.setdefault(stat_rgs[j], []).append(k)
                        j -= 1
                for rg in statless:
                    by_rg[rg] = targets  # no stats → scan the group
                passed: set[bytes] | None = None  # file's Bloom verdict
                for rg in sorted(by_rg):
                    wanted = by_rg[rg]
                    # (2) A whole group answers from in-memory Arrow
                    # arrays (one C-side hash probe, no I/O, no decode).
                    # A row entry answers the keys it holds, NULL values
                    # included, and never a miss: the rest go on to (3).
                    cached = self._rg_cache_get(fpath, rg)
                    held = 0  # bytes of this group's row entry
                    if cached is not None and cached[1] is None:
                        rows, rest, held = cached[0], [], cached[2]
                        for k in wanted:
                            v = rows.get(k, _ABSENT)
                            if v is _ABSENT:
                                rest.append(k)
                            else:
                                hits[k] = v
                        st["row_hits"] += len(wanted) - len(rest)
                        if not rest:
                            continue
                        wanted, cached = rest, None
                    admit_rows = False
                    if cached is not None:
                        st["group_hits"] += 1
                    else:
                        # (3) Bloom, only when the group will not be kept
                        # whole: a kept group makes every later miss on
                        # it one C-side hash probe, which a prefilter
                        # would starve. The sidecar covers the whole
                        # FILE, so one vectorized test over all targets
                        # serves the file's remaining groups. A "yes"
                        # (hit or fpp) falls through: the filter only
                        # removes work, never answers.
                        if bloom is not None and not self._rg_cache_room(
                            rg_sizes[rg], held
                        ):
                            if passed is None:
                                if target_digs is None:
                                    target_digs = bloom.hash_keys(targets)
                                passed = {
                                    k for k, ok in zip(
                                        targets,
                                        bloom.contains_digests(target_digs),
                                    ) if ok
                                }
                                st["bloom_tests"] += len(targets)
                                st["bloom_rejects"] += len(targets) - len(passed)
                            wanted = [k for k in wanted if k in passed]
                            if not wanted:
                                continue
                        # (4) Decode the group whole: one GIL-releasing C
                        # call. Kept whole when its decoded size has room;
                        # otherwise only the rows found below are kept.
                        with pf_lock:
                            tbl = pf.read_row_groups(
                                [rg], columns=["key", "value"]
                            )
                        st["decodes"] += 1
                        tbl = tbl.combine_chunks()
                        # the footer's size can under-count the decoded
                        # arrays (dictionary pages): later Bloom
                        # decisions on this group use the decoded size
                        rg_sizes[rg] = tbl.nbytes
                        cached = (tbl.column("key"), tbl.column("value"))
                        if self._rg_cache_room(tbl.nbytes, held):
                            self._rg_cache_put(fpath, rg, *cached, tbl.nbytes)
                        else:
                            admit_rows = self._rg_cache_budget > 0
                    karr, varr = cached[:2]
                    idx = pc.index_in(
                        pa.array(wanted, type=pa.binary()), value_set=karr
                    )
                    vals = pc.take(varr, idx).to_pylist()
                    found = {
                        kk: vv
                        for kk, ii, vv in zip(wanted, idx.to_pylist(), vals)
                        if ii is not None
                    }
                    hits.update(found)
                    if admit_rows and found:
                        st["rows_admitted"] += self._rg_cache_put_rows(
                            fpath, rg, found
                        )
            with self._serving_stats_lock:
                for name, n in st.items():
                    self._serving_stats[name] += n
            return hits

        # Cross-shard fanout (keyval/core.clj:118-134: the reference
        # multiGet probes every host group concurrently via do-pmap; a
        # serial loop costs sum-of-shard-latencies instead of the max).
        # Shard probes are independent — each writes only its own hits
        # dict, shared state is the locked handle/bound/bloom/group
        # caches the 8-thread serving bench already exercises — and the
        # decode work is GIL-releasing pyarrow C++, so a small shared
        # pool parallelizes for real. One shard (the point-get shape)
        # stays on the caller thread: no pool hop, no latency tax.
        #
        # Admission gate: fanout is a LATENCY tool for a lone caller;
        # concurrent request threads already supply the parallelism, so
        # fanning their batches out only adds pool handoff and GIL churn
        # (measured at sf0.1: 8 callers × cache-warm batches ran 1.5-2.5×
        # SLOWER fanned than serial, while a lone caller ran 1.7-2.1×
        # FASTER fanned — both regimes, both cache states). A batch fans
        # out only when it is the only in-flight MULTI-SHARD probe on
        # this handle — single-shard point gets never enter the count
        # (they add no parallelism pressure; a steady point-get trickle
        # must not starve scatter batches of the fanout win) — otherwise
        # it probes serially on its own thread. The caller count is a
        # heuristic read — a race mis-picks the dispatch mode for one
        # batch, never correctness.
        def _serial(items) -> None:
            for shard, shard_keys in items:
                out.update(_probe_shard(shard, shard_keys))

        if len(by_shard) <= 1:
            _serial(by_shard.items())
            return out
        with self._fanout_count_lock:
            self._probe_callers += 1
            lone_caller = self._probe_callers == 1
        try:
            pool = self._fanout_pool() if lone_caller else None
            if pool is None:  # gated, or raced a shutdown()
                _serial(by_shard.items())
                return out
            futures, serial_rest = [], []
            for shard, shard_keys in by_shard.items():
                try:
                    futures.append(
                        pool.submit(_probe_shard, shard, shard_keys)
                    )
                except RuntimeError:
                    # the pool refuses new work (it was shut down, e.g.
                    # at interpreter exit): finish on the caller thread
                    serial_rest.append((shard, shard_keys))
            try:
                for fut in futures:
                    out.update(fut.result())
            except BaseException:
                # the pool is PROCESS-SHARED: abandoned siblings would
                # keep occupying slots other domains' probes need, for
                # results nobody reads — cancel whatever hasn't started,
                # then drain the already-RUNNING probes before the
                # exception propagates: a caller that tears down on the
                # error (cache cleanup, shutdown, process exit) must not
                # race in-flight _probe_shard threads still touching the
                # handle caches. Bounded: each probe is one group decode.
                from concurrent.futures import wait as _futures_wait

                for fut in futures:
                    fut.cancel()
                _futures_wait(futures)
                raise
            _serial(serial_rest)
        finally:
            with self._fanout_count_lock:
                self._probe_callers -= 1
        return out

    def _fanout_pool(self):
        """The cross-shard probe pool: one process-level pool for every
        domain, as the reference daemon serves every domain from one
        server pool (THsHaServer, common/thrift.clj:111-118). External
        request threads queue onto it instead of multiplying thread
        counts. Returns None on a shut-down handle (callers probe
        serially)."""
        return None if self._is_shutdown else _shared_fanout_pool()

    def local_get(self, key: bytes, version: int | None = None) -> bytes | None:
        """Point probe via :meth:`local_multi_get` (A1 serving analogue)."""
        return self.local_multi_get([key], version)[bytes(key)]

    def _rg_cache_get(self, path: str, rg: int):
        """LRU lookup of one decoded row group; None on miss (and always
        None when the cache is disabled via ``serving_cache_bytes=0``)."""
        with self._rg_cache_lock:
            e = self._rg_cache.get((path, rg))
            if e is not None:
                self._rg_cache.move_to_end((path, rg))
            return e

    def _rg_cache_room(self, nbytes: int, held: int = 0) -> bool:
        """Whether a group of ``nbytes`` would be kept whole: at most a
        quarter of the budget, and it fits without evicting anything
        once its own row entry (``held`` bytes), which the whole group
        replaces, is freed. The unlocked read is a heuristic: a stale
        read mis-routes one group, never correctness."""
        budget = self._rg_cache_budget
        return (
            budget > 0
            and nbytes <= budget // 4
            and self._rg_cache_nbytes - held + nbytes <= budget
        )

    def _rg_cache_put(self, path: str, rg: int, karr, varr, nbytes: int) -> None:
        """Insert one decoded row group whole, replacing its row entry if
        it has one, and evict LRU entries past the byte budget. Two
        threads racing the same cold group both decode; the first whole
        insert wins (entries are immutable — same file, same group)."""
        with self._rg_cache_lock:
            key = (path, rg)
            e = self._rg_cache.get(key)
            if e is not None and e[1] is not None:
                self._rg_cache.move_to_end(key)
                return
            if e is not None:  # promote: the group answers every key now
                del self._rg_cache[key]
                self._rg_cache_nbytes -= e[2]
            self._rg_cache[key] = (karr, varr, int(nbytes))
            self._rg_cache_nbytes += int(nbytes)
            self._rg_cache_evict()

    def _rg_cache_put_rows(self, path: str, rg: int, rows: dict) -> int:
        """Merge rows a probe found in a group the cache had no room for
        into the group's row entry, then evict LRU entries past the byte
        budget. Copy on write: a reader holding the old dict never sees
        it change. Each new row is charged its key and value objects
        plus ROW_SLOT_BYTES. Returns the number of rows added (0 when
        the group is cached whole meanwhile)."""
        with self._rg_cache_lock:
            key = (path, rg)
            e = self._rg_cache.get(key)
            if e is not None and e[1] is not None:
                self._rg_cache.move_to_end(key)
                return 0
            old, charged = (e[0], e[2]) if e is not None else ({}, 0)
            new = {k: v for k, v in rows.items() if k not in old}
            add = sum(
                sys.getsizeof(k) + sys.getsizeof(v) + ROW_SLOT_BYTES
                for k, v in new.items()
            )
            self._rg_cache[key] = ({**old, **new}, None, charged + add)
            self._rg_cache.move_to_end(key)
            self._rg_cache_nbytes += add
            self._rg_cache_evict()
            return len(new)

    def _rg_cache_evict(self) -> None:
        """Drop LRU entries until the cache is within its byte budget.
        Call with _rg_cache_lock held."""
        while self._rg_cache_nbytes > self._rg_cache_budget and self._rg_cache:
            _, (_, _, nb) = self._rg_cache.popitem(last=False)
            self._rg_cache_nbytes -= nb

    def serving_stats(self) -> dict[str, int]:
        """Cumulative serving-probe counts for this handle:
        ``group_hits`` (candidate groups answered by a whole cached
        group), ``row_hits`` (keys answered by a row entry), ``decodes``
        (row groups decoded), ``rows_admitted`` (rows added to row
        entries), ``bloom_tests`` (keys tested against a sidecar) and
        ``bloom_rejects`` (of those, definitive misses)."""
        with self._serving_stats_lock:
            return dict(self._serving_stats)

    def _shard_file_list(self, sdir: str) -> "list[str]":
        """Cached data-file listing for one shard dir of a PUBLISHED
        version (immutable once the token exists, so the listdir syscalls
        are pure fixed overhead per probe). Missing dir → empty list.
        Shares _pq_lock with the handle cache; LRU eviction (a >512-file
        domain must not thrash its hot listings, VERDICT r6 item 3)."""
        with self._pq_lock:
            files = self._dir_cache.get(sdir)
            if files is not None:
                self._dir_cache.move_to_end(sdir)
        if files is None:
            if os.path.isdir(sdir):
                files = sorted(
                    f for f in os.listdir(sdir) if f.endswith(".parquet")
                )
            else:
                files = []
            with self._pq_lock:
                while len(self._dir_cache) >= SERVING_CACHE_CAP:
                    self._dir_cache.popitem(last=False)
                files = self._dir_cache.setdefault(sdir, files)
                self._dir_cache.move_to_end(sdir)
        return files

    def _open_shard_file(self, path: str):
        """Open (or reuse) a pyarrow ParquetFile for a shard file; returns
        ``(handle, per_file_lock, key_column_index, rg_bound_index,
        bloom_or_None, per_group_uncompressed_sizes)``. The
        reference keeps its local persistences open for the lifetime of a
        served version (common/domain.clj:184-206) — the probe must not
        re-read the footer per lookup. Resolved ONCE at open: the key
        column index (``schema_arrow`` rebuilds the Arrow schema from
        Thrift metadata per access) and the row-group key-bound index
        (:func:`rg_bound_index` — the per-probe Thrift stats walk was the
        fragmented-domain cost center, VERDICT r6 item 2; the reference's
        probe is a logarithmic B-tree descent, JavaBerkDB.java:70-82).
        Shard files are immutable once published, so caching by path is
        safe; bounded with per-entry LRU eviction so a hot handle
        survives a sweep of cold opens."""
        import pyarrow.parquet as pq

        with self._pq_lock:
            entry = self._pq_cache.get(path)
            if entry is not None:
                self._pq_cache.move_to_end(path)
        if entry is None:
            # footer read outside the cache lock: cold opens of DIFFERENT
            # files must not serialize on each other. Two threads racing
            # the same cold path both open it; one handle wins the cache,
            # the loser serves its own request and is GC'd — harmless.
            pf = pq.ParquetFile(path)
            key_idx = pf.schema_arrow.get_field_index("key")
            # optional Bloom sidecar (bloom.py): in-memory miss
            # short-circuit; None when the domain was built without one
            from elephantdb_spark.bloom import load_sidecar

            meta = pf.metadata
            entry = (
                pf,
                threading.Lock(),
                key_idx,
                rg_bound_index(meta, key_idx),
                load_sidecar(path),
                # per-group uncompressed sizes: the serving cache's
                # pre-decode cacheability gate (same one-time footer
                # walk); the probe replaces each with the decoded size
                # once it has decoded the group
                [
                    meta.row_group(i).total_byte_size
                    for i in range(meta.num_row_groups)
                ],
            )
            with self._pq_lock:
                while len(self._pq_cache) >= SERVING_CACHE_CAP:
                    self._pq_cache.popitem(last=False)
                entry = self._pq_cache.setdefault(path, entry)
                self._pq_cache.move_to_end(path)
        return entry

    def count_df(self, version: int | None = None) -> DataFrame:
        """getCount as a DataFrame (A15, core.clj:212-216). Catalyst serves
        it from Parquet footer metadata — same answer as the reference's
        full-scan count, without the scan."""
        return self.scan(version).agg(F.count(F.lit(1)).alias("cnt"))

    def count(self, version: int | None = None) -> int:
        return self.count_df(version).collect()[0].cnt

    def layout_report(self, version: int | None = None) -> dict:
        """Physical-layout audit of a published version (VERDICT r5
        item 6 — the one shared implementation q100, compaction tests,
        and operators report against): per shard the data-file count,
        byte total, and (parquet) row-group/row counts from the cached
        footers; plus summary fields. ``one_file_per_shard`` is the
        compaction guarantee — every shard dir that exists holds exactly
        one data file (absent dirs = validly empty shards, excluded,
        matching compact_domain's output contract)."""
        v = self._resolve_version(version)
        vpath = self.store.version_path(v)
        shards: dict[int, dict] = {}
        present_file_counts: list[int] = []
        for p in range(self.spec.num_shards):
            sdir = os.path.join(vpath, shard_dirname(p))
            if not os.path.isdir(sdir):
                shards[p] = {
                    "present": False, "files": 0, "bytes": 0,
                    "row_groups": 0, "rows": 0,
                }
                continue
            files = sorted(
                f for f in os.listdir(sdir) if not f.startswith(("_", "."))
            )
            n_bytes = sum(
                os.path.getsize(os.path.join(sdir, f)) for f in files
            )
            row_groups = rows = 0
            if self._fmt == "parquet":
                import pyarrow.parquet as pq

                for f in files:
                    if f.endswith(".parquet"):
                        # transient footer read, NOT _open_shard_file:
                        # auditing a >512-file fragmented domain (the
                        # exact shape this API exists for) through the
                        # bounded serving cache would wholesale-clear
                        # hot probe handles and refill with audit-only
                        # entries
                        meta = pq.read_metadata(os.path.join(sdir, f))
                        row_groups += meta.num_row_groups
                        rows += meta.num_rows
            shards[p] = {
                "present": True, "files": len(files), "bytes": n_bytes,
                "row_groups": row_groups, "rows": rows,
            }
            present_file_counts.append(len(files))
        return {
            "version": v,
            "num_shards": self.spec.num_shards,
            "shards": shards,
            "total_files": sum(s["files"] for s in shards.values()),
            "total_bytes": sum(s["bytes"] for s in shards.values()),
            "total_row_groups": sum(s["row_groups"] for s in shards.values()),
            "total_rows": sum(s["rows"] for s in shards.values()),
            "max_files_per_shard": max(present_file_counts, default=0),
            "one_file_per_shard": (
                bool(present_file_counts) and max(present_file_counts) == 1
            ),
        }

    def to_map(self, version: int | None = None) -> dict[bytes, bytes | None]:
        """Materialize the whole domain (A16, keyval/domain.clj:36-41).
        Test-support op — driver-side by design."""
        rows = self.scan(version).collect()
        return {
            bytes(r.key): (None if r.value is None else bytes(r.value)) for r in rows
        }

    # -- lifecycle -----------------------------------------------------------
    def cleanup_versions(
        self, versions_to_keep: int = 1, max_aside_age_s: float | None = None
    ) -> None:
        """Version GC (A19, VersionedStore.java:110-127).
        ``max_aside_age_s`` opt-in GCs abandoned staged-build asides."""
        self.store.cleanup(versions_to_keep, max_aside_age_s=max_aside_age_s)


class Engine:
    """Catalog of domains under one root — the analogue of the reference
    Database (common/database.clj:130-166) minus the network."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # memoized read handles so the per-handle caches (resolved scan
        # DataFrames, open parquet footers) actually hit across
        # Engine.get/local_get calls — the serving pattern. Hot-swap safe:
        # a Domain re-resolves the current version from disk per read, so
        # newly published versions are visible through a cached handle.
        self._domains: dict[str, Domain] = {}

    def domain_root(self, name: str) -> str:
        return os.path.join(self.root, name)

    def domain(self, name: str) -> Domain:
        cached = self._domains.get(name)
        if cached is not None:
            return cached
        root = self.domain_root(name)
        if not DomainSpec.exists(root):
            raise DomainNotFoundError(name)
        dom = Domain(self.spark, root, name)
        self._domains[name] = dom
        return dom

    def list_domains(self) -> list[str]:
        """getDomains (A28, core.thrift:80-91)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            name
            for name in os.listdir(self.root)
            if DomainSpec.exists(os.path.join(self.root, name))
        )

    def get_status(self) -> dict[str, str]:
        return {name: self.domain(name).status() for name in self.list_domains()}

    def maintain(
        self,
        name: str,
        compact_after_files: int | None = None,
        version: int | None = None,
    ) -> int | None:
        """Explicit maintenance sweep (VERDICT r7 item 5, the sibling of
        the in-publish self-heal in ``update_domain``): compact ``name``
        if any shard holds more data files than the threshold — the
        ``compact_after_files`` argument, else the spec's
        ``persistence_opts["compact_after_files"]``, else 1 (the
        one-file-per-shard serving ideal). Returns the new version id
        when compaction ran, None when the layout is already within the
        threshold (no job). ``version`` names the compacted version —
        callers with sequential version ids should pass their next id,
        the default is the timestamp id ``compact_domain`` picks.
        Reference anchor: version-chain rewrite,
        DomainStore.java:156-180, cascalog/keyval.clj:55-64.

        Neardup-history roots (paired ``sigs``/``bands`` sub-domains
        under one params file) route to the LOCKSTEP compactor —
        compacting either sub-domain alone would publish it a version
        the other doesn't have, breaking the bands@v ⇒ sigs@v probe
        invariant — and so does naming a sub-domain directly: the whole
        pair is swept (VERDICT r8 item 7)."""
        hroot = self._neardup_history_root(name)
        if hroot is not None:
            return self._maintain_neardup_history(
                hroot, compact_after_files, version
            )
        dom = self.domain(name)
        cap = compact_after_files if compact_after_files is not None else int(
            (dom.spec.persistence_opts or {}).get("compact_after_files", 1)
        )
        from elephantdb_spark.build import compact_domain

        current = dom.store.most_recent_version()
        if current is None:
            return None
        # compact_domain's own no-op check is a directory listing: it
        # returns the current version, with no job, when nothing is over
        # the cap
        v = compact_domain(
            self.spark, self.domain_root(name),
            version=version, max_files_per_shard=cap,
        )
        return None if v == current else v

    def _neardup_history_root(self, name: str) -> str | None:
        """The neardup-history root ``name`` belongs to, or None.

        ``name`` may be the history root itself or one of its
        ``sigs``/``bands`` sub-domains (e.g. ``"hist/sigs"``)."""
        from elephantdb_spark.operators.neardup_history import PARAMS_FILE

        root = self.domain_root(name)
        if os.path.exists(os.path.join(root, PARAMS_FILE)):
            return root
        if os.path.basename(root) in ("sigs", "bands"):
            parent = os.path.dirname(root)
            if os.path.exists(os.path.join(parent, PARAMS_FILE)):
                return parent
        return None

    def _maintain_neardup_history(
        self, hroot: str, compact_after_files: int | None, version: int | None
    ) -> int | None:
        """Lockstep sweep of a paired history (sigs first — the module's
        crash ordering). Same contract as :meth:`maintain`: new version
        id when a compaction ran, None on an already-clean layout
        (``compact_neardup_history``'s no-op check is a directory
        listing).

        The cap default chain matches maintain()'s documented chain for
        regular domains — arg → spec ``persistence_opts
        ["compact_after_files"]`` → 1 — applied PER sub-domain (an
        undeclared sub-domain's effective cap is 1, exactly what a lone
        regular domain without the key gets) and then MIN'd across the
        pair: the pair compacts in lockstep, so the sweep must fire
        whenever either sub-domain's own effective threshold would
        (ADVICE r10 item 2 — previously a lone declared cap governed
        the pair, silently loosening the undeclared side's bound)."""
        from elephantdb_spark.operators.neardup_history import (
            compact_neardup_history,
        )

        stores = {}
        for sub in ("sigs", "bands"):
            sub_root = os.path.join(hroot, sub)
            if not DomainSpec.exists(sub_root):
                raise DomainNotFoundError(
                    f"neardup history at {hroot!r} is missing its "
                    f"{sub!r} sub-domain (partial/crashed build?)"
                )
            stores[sub] = DomainStore.open(sub_root)
        if compact_after_files is not None:
            cap = int(compact_after_files)
        else:
            declared = [
                (st.spec.persistence_opts or {}).get("compact_after_files")
                for st in stores.values()
            ]
            cap = min(1 if d is None else int(d) for d in declared)
        current = stores["bands"].most_recent_version()
        v = compact_neardup_history(
            self.spark, hroot, version=version, max_files_per_shard=cap
        )
        return None if v == current else v

    def is_fully_loaded(self) -> bool:
        """fully-loaded? (common/database.clj:56-60): every domain ready?
        — which, per the reference's IStatus, includes 'updating' (an
        updating domain keeps serving its published version). A domain
        whose last update FAILED but which still has a published version
        counts as loaded (Domain.can_serve): the reference reaches the
        same steady state after a restart clears its in-process failure
        flag, while our failure marker is durable."""
        return all(
            dom.is_ready() or dom.can_serve()
            for dom in (self.domain(name) for name in self.list_domains())
        )

    def metadata(
        self, hosts: list[str] | None = None, replication: int = 1
    ) -> dict[str, dict]:
        return {
            name: self.domain(name).metadata(hosts, replication)
            for name in self.list_domains()
        }

    # convenience pass-throughs matching the thrift surface
    def get(self, domain: str, key: bytes) -> bytes | None:
        return self.domain(domain).get(key)

    def multi_get(self, domain: str, keys: list[bytes]) -> dict[bytes, bytes | None]:
        return self.domain(domain).multi_get(keys)

    def local_get(self, domain: str, key: bytes) -> bytes | None:
        return self.domain(domain).local_get(key)

    def local_multi_get(self, domain: str, keys: list[bytes]) -> dict[bytes, bytes | None]:
        return self.domain(domain).local_multi_get(keys)

    def get_count(self, domain: str) -> int:
        return self.domain(domain).count()

    def purge_unused_domains(self, keep: list[str]) -> list[str]:
        """Delete domain dirs not in ``keep`` (A29,
        common/database.clj:79-93). Returns purged names."""
        import shutil

        purged = []
        for name in self.list_domains():
            if name not in keep:
                shutil.rmtree(self.domain_root(name))
                self._domains.pop(name, None)
                purged.append(name)
        return purged

    def register_views(self, prefix: str = "edb_") -> list[str]:
        """Expose every ready domain as a temp view ``<prefix><name>`` with
        columns (key, value, shard), so the whole catalog is queryable with
        plain ``spark.sql`` — the engine's SQL surface. Each view pins the
        version that was current at registration (a consistent snapshot
        across queries); re-run after updates to pick up hot-swapped
        versions. Returns the view names."""
        names = []
        for name in self.list_domains():
            dom = self.domain(name)
            # ready? includes 'updating'; can_serve additionally keeps a
            # failed-update domain with a healthy published version in
            # the catalog (see Domain.can_serve)
            if not (dom.is_ready() or dom.can_serve()):
                continue
            view = f"{prefix}{name}"
            dom.scan().createOrReplaceTempView(view)
            names.append(view)
        return names

    def update(
        self, name: str, remote_root: str, versions_to_keep: int = 1
    ) -> int | None:
        """Thrift ``update`` (A28, core.thrift:80-91): pull the newest
        published version of one domain from a remote store root if newer
        than local, publish token-last, GC old local versions
        (common/domain.clj:449-454). Returns the synced version or None if
        already current."""
        from elephantdb_spark.streaming.updater import sync_domain

        return sync_domain(
            os.path.join(remote_root, name),
            self.domain_root(name),
            versions_to_keep=versions_to_keep,
        )

    def update_all(
        self, remote_root: str, versions_to_keep: int = 1
    ) -> dict[str, int | None]:
        """Thrift ``updateAll`` (A28): update every domain present in the
        remote root (common/database.clj:95-107's update-all! loop, minus
        the background thread — callers schedule it)."""
        results: dict[str, int | None] = {}
        for name in sorted(os.listdir(remote_root)):
            if DomainSpec.exists(os.path.join(remote_root, name)):
                results[name] = self.update(name, remote_root, versions_to_keep)
        return results
