"""Versioned on-disk layout: VersionedStore + DomainStore.

Reproduces the reference's snapshot-commit protocol (reference:
elephantdb-core/src/jvm/elephantdb/store/VersionedStore.java:21-146,
elephantdb-core/src/jvm/elephantdb/store/DomainStore.java:16-180):

* a domain root contains ``domain-spec.json`` plus one directory per
  version (named by the numeric version id, epoch-millis by default);
* a version is *visible* only once an empty ``<version>.version`` token
  file exists beside it — readers list tokens, never directories, so a
  half-written version can never be served (atomic publish);
* every writer fills a new version inside ``publishing()``: reserve the
  dir, write, publish the token — or, on an exception, delete the partial
  dir and record the failure (ElephantDBTap.java:166-188);
* ``fail``/``delete`` remove dir + token; ``cleanup(n)`` keeps the n newest
  published versions and deletes everything else, including unpublished
  junk;
* incremental builds copy forward shard directories that the new batch did
  not touch (``synchronize_versions`` — DomainStore.java:156-180).

Layout difference from the reference (deliberate, Spark-first): a shard is
a Hive-style partition directory ``shard=<i>/`` of key-sorted Parquet
instead of a BerkeleyDB/LevelDB file tree, so Catalyst partition pruning
serves the reference's "a get touches exactly one shard" property
(common/domain.clj:243-259) with zero custom reader code.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

from elephantdb_spark.spec import DomainSpec, SpecMismatchError

FINISHED_VERSION_SUFFIX = ".version"

#: Failure marker recording the last failed build/update — the durable
#: trace behind the 'failed' domain status (status machine,
#: elephantdb-server/src/clj/elephantdb/common/status.clj:5-45; the
#: reference keeps this in process state, we derive it from disk so a
#: restarted reader observes the same machine).
FAILED_MARKER = "_failed.json"


def shard_dirname(shard: int) -> str:
    return f"shard={shard}"


class VersionedStore:
    """Filesystem layout + commit protocol (VersionedStore.java:21-146)."""

    def __init__(self, root: str):
        # NB: no makedirs here — this constructor also wraps REMOTE stores
        # for read-only polling (sync_domain); write paths create the root.
        self.root = root

    # -- paths ---------------------------------------------------------------
    def version_path(self, version: int) -> str:
        return os.path.join(self.root, str(int(version)))

    def token_path(self, version: int) -> str:
        return os.path.join(self.root, f"{int(version)}{FINISHED_VERSION_SUFFIX}")

    # -- queries -------------------------------------------------------------
    def all_versions(self) -> list[int]:
        """Published versions, most recent first (VersionedStore.java:132-146)."""
        out = []
        if not os.path.isdir(self.root):
            return out
        for name in os.listdir(self.root):
            if name.endswith(FINISHED_VERSION_SUFFIX):
                stem = name[: -len(FINISHED_VERSION_SUFFIX)]
                try:
                    out.append(int(stem))
                except ValueError:
                    continue
        return sorted(out, reverse=True)

    def most_recent_version(self, max_version: int | None = None) -> int | None:
        """Newest published version, optionally capped at ``max_version``
        inclusive (VersionedStore.java:64-76)."""
        for v in self.all_versions():
            if max_version is None or v <= max_version:
                return v
        return None

    def most_recent_version_path(self, max_version: int | None = None) -> str | None:
        v = self.most_recent_version(max_version)
        return None if v is None else self.version_path(v)

    def has_version(self, version: int) -> bool:
        return int(version) in self.all_versions()

    def unpublished_versions(self) -> list[int]:
        """Version dirs with no token yet — builds/updates in flight (or
        crashed), newest first. These are what make a domain 'loading' or
        'updating'."""
        if not os.path.isdir(self.root):
            return []
        published = set(self.all_versions())
        out = []
        for name in os.listdir(self.root):
            full = os.path.join(self.root, name)
            try:
                v = int(name)
            except ValueError:
                continue
            if os.path.isdir(full) and v not in published:
                out.append(v)
        return sorted(out, reverse=True)

    # -- failure marker (status machine, common/status.clj:5-45) -------------
    def record_failure(self, version: int, error: str) -> None:
        """Durably note that building ``version`` failed (to-failed)."""
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, FAILED_MARKER), "w") as fh:
            json.dump({"version": int(version), "error": str(error)}, fh)

    def last_failure(self) -> dict | None:
        path = os.path.join(self.root, FAILED_MARKER)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def clear_failure(self) -> None:
        path = os.path.join(self.root, FAILED_MARKER)
        if os.path.exists(path):
            os.remove(path)

    # -- lifecycle -----------------------------------------------------------
    def create_version(self, version: int) -> str:
        """Reserve a version dir; errors if already published; clears any
        incomplete leftover dir (VersionedStore.java:78-91)."""
        version = int(version)
        if self.has_version(version):
            raise RuntimeError(f"Version {version} already exists")
        os.makedirs(self.root, exist_ok=True)
        path = self.version_path(version)
        if os.path.exists(path):
            shutil.rmtree(path)
        return path

    def succeed_version(self, version: int) -> None:
        """Atomic publish: create the empty token file last
        (VersionedStore.java:102-108). A successful publish supersedes any
        recorded failure (to-ready clears to-failed)."""
        os.makedirs(self.root, exist_ok=True)
        with open(self.token_path(version), "w"):
            pass
        self.clear_failure()

    def fail_version(self, version: int) -> None:
        self.delete_version(version)

    @contextmanager
    def publishing(self, version: int | None = None):
        """The one write protocol for a new version: reserve it (default
        id: epoch ms), yield ``(version, path)`` for the caller to fill,
        then publish its token on a clean exit. On an exception the
        partial version is rolled back and the failure recorded
        (ElephantDBTap.java:166-188; status → failed) before it
        propagates."""
        if version is None:
            version = int(time.time() * 1000)
        version = int(version)
        path = self.create_version(version)
        try:
            yield version, path
            self.succeed_version(version)
        except Exception as exc:
            self.fail_version(version)
            self.record_failure(version, repr(exc))
            raise

    def staging_aside_path(self, version: int) -> str:
        """Where StagedBuild.publish parks staged batches while it clears
        and rebuilds the version dir. A crash in that window leaves this
        dir as the only copy of the staged data — StagedBuild.resume()
        recovers it; cleanup() GCs it only once its version is published
        (an unpublished aside is still resumable and survives cleanup).
        delete_version deliberately does
        NOT touch it: the build-failure rollback inside publish() runs
        fail_version while the aside still holds the staged batches that
        publish's except-path is about to restore."""
        return os.path.join(self.root, f".staging-{int(version)}")

    def delete_version(self, version: int) -> None:
        path = self.version_path(version)
        if os.path.exists(path):
            shutil.rmtree(path)
        token = self.token_path(version)
        if os.path.exists(token):
            os.remove(token)

    def cleanup(
        self, versions_to_keep: int = -1, max_aside_age_s: float | None = None
    ) -> None:
        """Keep the N newest published versions; delete every other
        version-like entry, including unpublished dirs
        (VersionedStore.java:110-127). No-op on a never-created root.

        ``max_aside_age_s``: opt-in GC for UNPUBLISHED staging asides. By
        default they are kept forever (they may be the only copy of an
        abandoned StagedBuild's batches — resumable via
        StagedBuild.resume()); with an age set, asides whose newest file
        mtime is older than the threshold are deemed crash leftovers and
        removed."""
        if not os.path.isdir(self.root):
            return
        versions = self.all_versions()
        if versions_to_keep >= 0:
            versions = versions[: min(len(versions), versions_to_keep)]
        keepers = set(versions)
        # snapshot the published set BEFORE deleting anything: the loop
        # below removes version tokens, and a live re-read per aside
        # would (listdir-order-dependently) see a just-deleted version as
        # unpublished and keep its crash-leftover aside forever
        published = set(self.all_versions())
        for name in os.listdir(self.root):
            full = os.path.join(self.root, name)
            stem = name
            if name.endswith(FINISHED_VERSION_SUFFIX):
                stem = name[: -len(FINISHED_VERSION_SUFFIX)]
            elif name.endswith(".compact-tmp"):
                # in-publish self-heal scratch (build._self_heal_fragmentation):
                # normally removed by its try/finally; surviving one means a
                # hard kill mid-heal. Its version dir is unpublished (the heal
                # runs pre-token), the data is a COPY of that version's
                # shards, and a retry uses a new version id/path — never the
                # only copy of anything, always safe to GC.
                shutil.rmtree(full, ignore_errors=True)
                continue
            elif name.startswith(".staging-"):
                # a mid-publish staging aside (StagedBuild): if its version
                # is published the aside is a crash leftover from after the
                # token write — safe to GC. If UNPUBLISHED, the aside may be
                # the ONLY copy of staged data from a crash inside publish's
                # clear-and-rebuild window; StagedBuild.resume() recovers it,
                # so routine cleanup must leave it alone (ADVICE r3).
                try:
                    aside_v = int(name[len(".staging-"):])
                except ValueError:
                    aside_v = None
                if aside_v is None or aside_v in published:
                    shutil.rmtree(full)
                elif max_aside_age_s is not None:
                    # opt-in age gate: an abandoned staged build's aside
                    # should not survive forever. Age = newest mtime under
                    # the aside (a resumed-then-abandoned build keeps
                    # touching files; only a genuinely cold aside GCs).
                    newest = os.path.getmtime(full)
                    for dirpath, _dirs, files in os.walk(full):
                        for f in files:
                            try:
                                newest = max(
                                    newest,
                                    os.path.getmtime(os.path.join(dirpath, f)),
                                )
                            except OSError:
                                pass
                    if time.time() - newest > max_aside_age_s:
                        shutil.rmtree(full)
                continue
            try:
                v = int(stem)
            except ValueError:
                continue  # not version-like (e.g. domain-spec.json)
            if v not in keepers:
                if os.path.isdir(full):
                    shutil.rmtree(full)
                else:
                    os.remove(full)


class DomainStore(VersionedStore):
    """VersionedStore + spec management for one domain
    (DomainStore.java:16-54)."""

    def __init__(self, root: str, spec: DomainSpec):
        super().__init__(root)
        self.spec = spec

    @classmethod
    def create_or_open(cls, root: str, spec: DomainSpec | None = None) -> "DomainStore":
        """Open with spec equality check; create+persist spec on first use
        (DomainStore.java:40-53). Every domain-creating entry point passes
        here, so a new spec's serving options are checked here, before
        anything is written."""
        if DomainSpec.exists(root):
            stored = DomainSpec.read(root)
            if spec is not None:
                spec.assert_matches(stored)
            return cls(root, stored)
        if spec is None:
            raise SpecMismatchError(f"no spec found at {root} and none supplied")
        # function-level: build imports this module
        from elephantdb_spark.build import check_new_spec

        check_new_spec(spec)
        spec.write(root)
        return cls(root, spec)

    @classmethod
    def open(cls, root: str) -> "DomainStore":
        return cls(root, DomainSpec.read(root))

    def synchronize_versions(self, old_version: int | None, new_version: int) -> list[int]:
        """Copy-forward: for each shard present in ``old_version`` but absent
        in ``new_version``, file-copy the shard directory — never recompute
        (DomainStore.java:156-180). Returns the copied shard ids.

        Shard copies run in a small thread pool: the work is pure file
        I/O, so parallel copies overlap on any real filesystem. (At
        cluster scale the version root lives on a shared store and the
        same copy-forward would be a distributed copy or manifest-level
        reuse — see SCALE.md; the shard-set/ordering semantics here are
        what the reference's per-shard rsync loop provides.)"""
        if old_version is None:
            return []
        from concurrent.futures import ThreadPoolExecutor

        old_path = self.version_path(old_version)
        new_path = self.version_path(new_version)
        todo = []
        for i in range(self.spec.num_shards):
            src = os.path.join(old_path, shard_dirname(i))
            dst = os.path.join(new_path, shard_dirname(i))
            if os.path.isdir(src) and not os.path.exists(dst):
                todo.append((i, src, dst))
        if not todo:
            return []
        with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
            list(pool.map(lambda t: shutil.copytree(t[1], t[2]), todo))
        return [i for i, _, _ in todo]
