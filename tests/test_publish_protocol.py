"""The one commit protocol, ``VersionedStore.publishing`` (reserve → fill
→ token last; VersionedStore.java:78-108), checked two ways.

Structurally (no Spark session): no module but store.py reserves a
version or writes a token, bar StagedBuild's up-front reservation.

By crash points: the k-th ``os.rename``, ``os.replace``, ``os.makedirs``,
``shutil.rmtree``, ``shutil.copytree`` or ``succeed_version`` call inside
``StagedBuild.publish`` (build, update and healing-update branch) and
``sync_domain`` raises, for every k. After each crash, reads return
exactly the old version or the whole new one, ``status()`` is failed or
ready, a resumed publish (or a repeated sync) publishes, and ``cleanup``
leaves no staging or ``.compact-tmp`` dir and no unpublished version.
"""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import shutil
import threading
from contextlib import contextmanager

import pytest

from elephantdb_spark.build import StagedBuild, build_domain, update_domain
from elephantdb_spark.engine import Domain
from elephantdb_spark.sharding import shard_index
from elephantdb_spark.spec import DomainSpec
from elephantdb_spark.store import DomainStore, VersionedStore
from elephantdb_spark.streaming import sync_domain

PKG = pathlib.Path(__file__).resolve().parent.parent / "elephantdb_spark"


def _sources() -> dict[str, str]:
    return {
        str(p.relative_to(PKG)): p.read_text(encoding="utf-8")
        for p in sorted(PKG.rglob("*.py"))
    }


def _method_calls(attrs: set[str]) -> set[tuple[str, str, str]]:
    """(module, enclosing def/class path, name) of every ``x.<attr>(...)``
    or bare ``<attr>(...)`` call in the package."""
    found = set()

    def walk(module, node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = scope + (child.name,)
            elif isinstance(child, ast.Call):
                func = child.func
                name = getattr(func, "attr", None) or getattr(func, "id", None)
                if name in attrs:
                    found.add((module, ".".join(scope), name))
            walk(module, child, inner)

    for module, src in _sources().items():
        walk(module, ast.parse(src), ())
    return found


def test_only_publishing_reserves_and_publishes_versions():
    assert _method_calls({"succeed_version", "create_version"}) == {
        ("store.py", "VersionedStore.publishing", "create_version"),
        ("store.py", "VersionedStore.publishing", "succeed_version"),
        ("build.py", "StagedBuild.__init__", "create_version"),
    }


def test_only_the_build_paths_and_rewrite_shards_write_shards():
    """Every merge of old shards with a batch goes through
    ``build._rewrite_shards``, so no writer keeps a private merge."""
    assert _method_calls({"_write_shards"}) == {
        ("build.py", "_write_version", "_write_shards"),
        ("build.py", "_rewrite_shards", "_write_shards"),
        ("operators/ann_index.py", "build_ivf_index", "_write_shards"),
    }


def test_staged_batches_are_never_moved_aside():
    assert "os.rename" not in _sources()["build.py"]
    for name, src in _sources().items():
        for gone in ("max_aside_age_s", "staging_aside_path", "STAGING_DIRNAME"):
            assert gone not in src, f"{gone} still in {name}"


# -- crash points --------------------------------------------------------

SPEC = DomainSpec(num_shards=2)
OLD = {f"k{i}".encode(): f"v{i}".encode() for i in range(8)}
HOT = b"k0"
# a second staged key in HOT's shard, so an update rewrites one shard and
# copies the other forward
MATE = next(k for k in OLD if k != HOT and shard_index(k, 2) == shard_index(HOT, 2))
BATCHES = [[(HOT, b"x1"), (MATE, b"y")], [(HOT, b"x2")]]  # later batch wins
STAGED = {HOT: b"x2", MATE: b"y"}

# a healing update: 2 rows a file under a cap of 1 file a shard
HEAL_SPEC = DomainSpec(num_shards=3, persistence_opts={
    "maxRecordsPerFile": 2, "compact_after_files": 1, "bloom_fpp": 0.01,
})


def _heal_case():
    """A fragmented version 1 for HEAL_SPEC (HOT's shard and ``big``
    2 files each, over the cap; ``small`` 1 file, at it), and staged
    batches that touch HOT's shard only."""
    n = HEAL_SPEC.num_shards
    by_shard: dict[int, list[bytes]] = {s: [] for s in range(n)}
    for i in range(200):
        k = f"h{i}".encode()
        by_shard[shard_index(k, n)].append(k)
    hot = shard_index(HOT, n)
    big, small = (s for s in range(n) if s != hot)
    old = {
        k: b"o" + k
        for k in by_shard[hot][:3] + by_shard[big][:4] + by_shard[small][:2]
    }
    mate = by_shard[hot][0]
    batches = [[(HOT, b"x1"), (mate, b"y")], [(HOT, b"x2")]]
    return old, batches, {HOT: b"x2", mate: b"y"}, {hot: 2, big: 2, small: 1}


HEAL_OLD, HEAL_BATCHES, HEAL_STAGED, HEAL_V1_FILES = _heal_case()
#: branch → (spec, version 1 or None, staged batches, published version 2)
CASES = {
    "build": (SPEC, None, BATCHES, STAGED),
    "update": (SPEC, OLD, BATCHES, {**OLD, **STAGED}),
    "heal": (HEAL_SPEC, HEAL_OLD, HEAL_BATCHES, {**HEAL_OLD, **HEAL_STAGED}),
}
KEYS = sorted({*OLD, *HEAL_OLD}) + [b"absent"]


class _Crash(Exception):
    """The injected fault."""


_POINTS = [
    (os, "rename"),
    (os, "replace"),
    (os, "makedirs"),
    (shutil, "rmtree"),
    (shutil, "copytree"),
    (VersionedStore, "succeed_version"),
]


@contextmanager
def _crash_at(k: int):
    """Make the k-th crash-point call (1-based, counted over every thread)
    raise _Crash; yields the list of names of the calls seen."""
    seen: list[str] = []
    lock = threading.Lock()

    def hook(name, orig):
        def hooked(*args, **kwargs):
            with lock:
                seen.append(name)
                hit = len(seen) == k
            if hit:
                raise _Crash(f"crash point {k}: {name}")
            return orig(*args, **kwargs)

        return hooked

    with pytest.MonkeyPatch.context() as mp:
        for owner, name in _POINTS:
            mp.setattr(owner, name, hook(name, getattr(owner, name)))
        yield seen


def _kv(spark, items):
    return spark.createDataFrame(list(items), "key binary, value binary")


def _assert_reads(spark, root, want_by_version):
    """The domain serves exactly one of the expected versions, whole,
    through both the Spark scan and the local probe."""
    dom = Domain(spark, root)
    try:
        cur = dom.current_version()
        assert cur in want_by_version, (cur, sorted(want_by_version, key=str))
        if cur is not None:
            want = want_by_version[cur]
            assert dom.to_map() == want
            assert dom.local_multi_get(KEYS) == {k: want.get(k) for k in KEYS}
        return cur
    finally:
        dom.shutdown()


def _assert_clean_after_cleanup(root):
    store = DomainStore.open(root)
    store.cleanup()
    assert store.unpublished_versions() == []
    assert [
        n for n in os.listdir(root)
        if n.startswith(".staging-") or n.endswith(".compact-tmp")
    ] == []


def _crash_every_point(prepare, check):
    """For k = 1, 2, ...: ``prepare(k)`` makes a fresh ``(root, op)``, and
    ``op()`` runs with the k-th crash point failing, until a run completes
    without reaching k; ``check(root, crashed)`` judges each outcome.
    Returns the crash points, in order, that the completed run passed."""
    k = 1
    while True:
        root, op = prepare(k)
        with _crash_at(k) as seen:
            try:
                op()
                crashed = False
            except _Crash:
                crashed = True
        # a swallowed fault would complete with len(seen) >= k
        assert crashed or len(seen) < k, f"crash point {k} was swallowed"
        check(root, crashed)
        if not crashed:
            return seen
        k += 1


@pytest.fixture(scope="module")
def staged_roots(spark, tmp_path_factory):
    """One staged-but-unpublished domain per publish branch: ``build``
    (nothing published yet), ``update`` (version 1 = OLD published) and
    ``heal`` (version 1 = HEAL_OLD, fragmented)."""
    base = tmp_path_factory.mktemp("staged")
    roots = {}
    for branch, (spec, old, batches, _) in CASES.items():
        root = str(base / branch)
        if old is not None:
            build_domain(spark, _kv(spark, old.items()), root, spec, version=1)
        sb = StagedBuild(spark, root, spec, version=2)
        for batch in batches:
            sb.stage(_kv(spark, batch))
        roots[branch] = root
    dom = Domain(spark, roots["heal"])
    shards = dom.layout_report(1)["shards"]
    dom.shutdown()
    assert {s: shards[s]["files"] for s in HEAL_V1_FILES} == HEAL_V1_FILES
    return roots


def _assert_healed(spark, root):
    """Version 2 holds at most compact_after_files (1) data files a
    shard, each with exactly one Bloom sidecar."""
    dom = Domain(spark, root)
    try:
        assert dom.layout_report(2)["max_files_per_shard"] <= 1
    finally:
        dom.shutdown()
    vpath = DomainStore.open(root).version_path(2)
    for sdir in glob.glob(os.path.join(vpath, "shard=*")):
        names = os.listdir(sdir)
        data = {f for f in names if not f.startswith(("_", "."))}
        sides = {f for f in names if f.endswith(".bloom")}
        assert sides == {"." + f + ".bloom" for f in data}, sdir


@pytest.mark.parametrize("branch", list(CASES))
def test_staged_publish_survives_every_crash_point(
    spark, tmp_path, staged_roots, branch
):
    _, v1, _, new = CASES[branch]
    old = {None: None} if v1 is None else {1: v1}

    def prepare(k):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(staged_roots[branch], root)
        return root, StagedBuild.resume(spark, root, 2).publish

    def check(root, crashed):
        _assert_reads(spark, root, {**old, 2: new})
        status = Domain(spark, root).status()
        if not crashed:
            assert status == "ready"
        else:
            assert status in ("failed", "ready")
            if DomainStore.open(root).has_version(2):
                # crashed after the token: nothing left to resume
                with pytest.raises(RuntimeError, match="already published"):
                    StagedBuild.resume(spark, root, 2)
            else:
                assert StagedBuild.resume(spark, root, 2).publish() == 2
            assert Domain(spark, root).status() == "ready"
        assert _assert_reads(spark, root, {2: new}) == 2
        if branch == "heal":
            _assert_healed(spark, root)
        _assert_clean_after_cleanup(root)

    points = _crash_every_point(prepare, check)
    assert points.count("succeed_version") == 1, points
    assert ("copytree" in points) == (branch != "build"), points  # copy-forward


@pytest.fixture(scope="module")
def sync_roots(spark, tmp_path_factory):
    """A remote at version 2 and a local copy synced at version 1."""
    base = tmp_path_factory.mktemp("sync")
    remote, local = str(base / "remote"), str(base / "local")
    build_domain(spark, _kv(spark, OLD.items()), remote, SPEC, version=1)
    assert sync_domain(remote, local) == 1
    update_domain(spark, _kv(spark, STAGED.items()), remote, version=2)
    return remote, local


def test_sync_domain_survives_every_crash_point(spark, tmp_path, sync_roots):
    remote, local = sync_roots
    new = {**OLD, **STAGED}

    def prepare(k):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(local, root)
        return root, lambda: sync_domain(remote, root)

    def check(root, crashed):
        _assert_reads(spark, root, {1: OLD, 2: new})
        assert Domain(spark, root).status() in ("failed", "ready")
        if crashed:
            published = DomainStore.open(root).has_version(2)
            assert sync_domain(remote, root) == (None if published else 2)
        assert Domain(spark, root).status() == "ready"
        assert _assert_reads(spark, root, {1: OLD, 2: new}) == 2
        _assert_clean_after_cleanup(root)

    points = _crash_every_point(prepare, check)
    # the copy, the token, then the GC of version 1 (after the token)
    assert "copytree" in points and points[-1] == "rmtree", points
    assert points.index("succeed_version") < len(points) - 1, points


def test_sync_domain_retries_a_failed_gc_when_up_to_date(spark, tmp_path, sync_roots):
    """A GC that fails after a sync is retried by the next sync, even
    though the local store already holds the remote's newest version."""
    remote, synced = sync_roots
    root = str(tmp_path / "gc")
    shutil.copytree(synced, root)
    old = os.path.join(root, "1")
    real = shutil.rmtree

    def fail_once(path, *a, **kw):
        if os.path.abspath(path) == old and not failed:
            failed.append(path)
            raise _Crash("rmtree of version 1")
        return real(path, *a, **kw)

    failed: list[str] = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(shutil, "rmtree", fail_once)
        with pytest.raises(_Crash):
            sync_domain(remote, root)
        assert failed and DomainStore.open(root).has_version(2)
        assert sync_domain(remote, root) is None  # up to date
    assert DomainStore.open(root).all_versions() == [2]
    assert sorted(n for n in os.listdir(root) if n[0].isdigit()) == ["2", "2.version"]
