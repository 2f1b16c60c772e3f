"""Continuous domain maintenance — the Spark-first restatement of the
reference's background updater (reference:
elephantdb-server/src/clj/elephantdb/common/domain.clj:363-454 —
poll remote store → transfer new version → hot-swap;
common/database.clj:95-107 — the update loop;
common/domain.clj:360-405 — throttled shard transfer).

Two pieces:

* :func:`stream_build` — Structured Streaming file source watching a feed
  directory of key/value batches; every micro-batch becomes one *published
  domain version* via the incremental update path (merge + copy-forward).
  ``Trigger.AvailableNow`` gives the reference's poll-loop semantics
  (drain what's new, then stop); a processing-time trigger gives a
  continuously-updating domain. Version publish is the hot-swap: readers
  resolve the current version at query start, so a new token is exactly
  the reference's atomic swap (common/domain.clj:208-228).

* :func:`sync_domain` — the literal remote→local version pull: copy the
  newest published version's shard tree inside ``publishing`` (token
  LAST, a failed copy rolled back), optionally rate-limited (A26), then
  GC old local versions (keep 1 — common/domain.clj:126-133).
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from elephantdb_spark.build import build_domain, update_domain
from elephantdb_spark.spec import DomainSpec
from elephantdb_spark.store import DomainStore, VersionedStore


def stream_build(
    spark: SparkSession,
    input_dir: str,
    domain_root: str,
    spec: DomainSpec,
    schema: str = "key binary, value binary",
    seq_col: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    checkpoint_dir: str | None = None,
    version_fn: Callable[[int], int] | None = None,
    input_format: str = "parquet",
):
    """Watch ``input_dir`` for new batch files; publish one incremental
    domain version per micro-batch.

    Returns the started StreamingQuery (caller awaits/stops it). With
    ``available_now=True`` the query drains all pending files and finishes —
    the reference's "poll once, update if newer" cycle; exactly-once is
    inherited from the file-source checkpoint + the idempotent
    version-publish commit.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(domain_root, "_checkpoint")

    def to_version(batch_id: int) -> int:
        if version_fn is not None:
            return version_fn(batch_id)
        # strictly increasing even for sub-millisecond micro-batches
        return DomainStore.create_or_open(domain_root, spec).new_version_id()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        version = to_version(batch_id)
        # foreachBatch is at-least-once: after a crash between token publish
        # and checkpoint commit, the batch replays with the same batch_id.
        # A pinned version_fn then yields an already-published version —
        # skip it (the work is durably done); this is what makes the
        # version-publish commit idempotent end-to-end.
        if (
            version_fn is not None
            and DomainSpec.exists(domain_root)
            and DomainStore.open(domain_root).has_version(version)
        ):
            return
        if DomainSpec.exists(domain_root) and DomainStore.open(domain_root).most_recent_version() is not None:
            update_domain(spark, batch_df, domain_root, version=version, seq_col=seq_col)
        else:
            build_domain(spark, batch_df, domain_root, spec, version=version, seq_col=seq_col)

    reader = (
        spark.readStream.format(input_format)
        .schema(schema)
        .load(input_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _copy_rate_limited(src: str, dst: str, rate_limit_kbps: float | None) -> None:
    """Recursive copy; optional throttle mirrors the reference's
    download-rate-limit agent (common/domain.clj:360-383, default 128 kB/s
    per common/config.clj:56-57)."""
    if rate_limit_kbps is None:
        shutil.copytree(src, dst)
        return
    chunk = 64 * 1024
    per_chunk_s = chunk / (rate_limit_kbps * 1024.0)
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        target_dir = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(target_dir, exist_ok=True)
        for fname in files:
            with open(os.path.join(root, fname), "rb") as fin, open(
                os.path.join(target_dir, fname), "wb"
            ) as fout:
                while True:
                    buf = fin.read(chunk)
                    if not buf:
                        break
                    fout.write(buf)
                    time.sleep(per_chunk_s)


def sync_domain(
    remote_root: str,
    local_root: str,
    versions_to_keep: int = 1,
    rate_limit_kbps: float | None = None,
) -> int | None:
    """Pull the newest published remote version into the local store if it
    is newer than the local one (needs-update? — common/domain.clj:109-117).

    The copy runs inside ``VersionedStore.publishing``: data first,
    token last, and a failed copy rolls the partial version back and
    records the failure (the reference's failVersion path). Every call
    ends with the local GC (``versions_to_keep``). Returns the synced
    version or None if up to date.
    """
    remote = VersionedStore(remote_root)
    remote_version = remote.most_recent_version()
    if remote_version is None:
        return None
    # carry the spec alongside, and refuse to serve a shard tree that was
    # built under a different spec — wrong num_shards would silently route
    # reads to the wrong shard dirs (DomainStore.java:40-53 checks spec
    # equality on every open; mirror that here)
    if DomainSpec.exists(remote_root):
        remote_spec = DomainSpec.read(remote_root)
        if DomainSpec.exists(local_root):
            DomainSpec.read(local_root).assert_matches(remote_spec)
        else:
            remote_spec.write(local_root)
    local = VersionedStore(local_root)
    local_version = local.most_recent_version()
    synced = None
    if local_version is None or local_version < remote_version:
        with local.publishing(remote_version) as (_, dst):
            _copy_rate_limited(
                remote.version_path(remote_version), dst, rate_limit_kbps
            )
        synced = remote_version
    # also when already up to date: a GC that failed after an earlier
    # sync is retried here, not only when a newer version arrives
    local.cleanup(versions_to_keep)
    return synced


class Updater:
    """Handle for a running background updater (the reference returns the
    `future`; stop() is the registered shutdown hook that cancels it —
    common/database.clj:95-107)."""

    def __init__(self, interval_s: float):
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.interval_s = interval_s
        self.cycles = 0
        self.last_results: dict[str, int | None] | None = None
        self.last_error: Exception | None = None

    def running(self) -> bool:
        return self._thread is not None and self._thread.is_alive()

    def stop(self, timeout: float | None = 30.0) -> None:
        """Signal the loop to exit and join the thread."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)


def launch_updater(
    engine,
    remote_root: str,
    interval_s: float,
    versions_to_keep: int = 1,
    on_update: Callable[[dict[str, int | None]], None] | None = None,
) -> Updater:
    """The reference's ``launch-updater!`` poll loop
    (common/database.clj:95-107): every ``interval_s`` seconds, pull any
    newer published version of every domain in ``remote_root`` into
    ``engine``'s local store (update-all!). Each pull is
    :func:`sync_domain` — data copied first, token written LAST — so a
    reader hot-swaps to the new version at its next read, exactly like
    the reference's atomic swap.

    Runs in a daemon thread; the first cycle fires immediately. A failing
    cycle records ``last_error`` and keeps polling (the reference logs and
    continues). Call ``.stop()`` to cancel (their shutdown hook).
    """
    handle = Updater(interval_s)

    def loop() -> None:
        while not handle._stop.is_set():
            try:
                results = engine.update_all(remote_root, versions_to_keep)
                handle.last_results = results
                handle.last_error = None
                if on_update is not None:
                    on_update(results)
            except Exception as exc:  # poll loops outlive transient failures
                handle.last_error = exc
            handle.cycles += 1
            handle._stop.wait(interval_s)

    handle._thread = threading.Thread(target=loop, name="edb-updater", daemon=True)
    handle._thread.start()
    return handle
