"""Append-to-unpublished-version staging (StagedBuild) — the
openPersistenceForAppend analogue (Coordinator.java:12-23): batches
accumulate invisibly in ``<root>/.staging-<v>`` beside the reserved,
unpublished version dir; publish() is one build/update through
``publishing`` (the atomic commit); a crash before the token leaves
nothing visible, and cleanup() removes the version dir and its staging
dir (VersionedStore.java:102-108 semantics). Crash points inside
publish() are covered by tests/test_publish_protocol.py."""

from __future__ import annotations

import os

import pytest

from elephantdb_spark.build import StagedBuild, build_domain
from elephantdb_spark.engine import Domain, DomainNotLoadedError
from elephantdb_spark.spec import DomainSpec
from elephantdb_spark.store import DomainStore


def _kv(spark, items, with_seq=False):
    if with_seq:
        return spark.createDataFrame(
            [(str(k).encode(), str(v).encode(), s) for k, v, s in items],
            "key binary, value binary, seq long",
        )
    return spark.createDataFrame(
        [(str(k).encode(), str(v).encode()) for k, v in items],
        "key binary, value binary",
    )


def test_two_staged_batches_equal_one_build_of_union(spark, tmp_path):
    spec = DomainSpec(num_shards=4)
    staged_root = str(tmp_path / "staged")
    direct_root = str(tmp_path / "direct")

    b1 = [(1, "a"), (2, "b"), (3, "c")]
    b2 = [(3, "c2"), (4, "d")]  # key 3 overlaps: later batch must win

    sb = StagedBuild(spark, staged_root, spec, version=7)
    assert sb.stage(_kv(spark, b1)) == 0
    assert sb.stage(_kv(spark, b2)) == 1
    assert sb.publish() == 7

    # one plain build of the union with later-batch-wins resolution
    build_domain(spark, _kv(spark, [(1, "a"), (2, "b"), (3, "c2"), (4, "d")]),
                 direct_root, spec, version=7)

    got = Domain(spark, staged_root).to_map()
    want = Domain(spark, direct_root).to_map()
    assert got == want
    assert got[b"3"] == b"c2"


def test_seq_col_orders_within_batch_and_batch_order_dominates(spark, tmp_path):
    spec = DomainSpec(num_shards=4)
    root = str(tmp_path / "dom")
    sb = StagedBuild(spark, root, spec, version=1)
    # within batch 0: seq 9 beats seq 1; across batches: batch 1 beats
    # batch 0 even with a smaller seq
    sb.stage(_kv(spark, [(1, "lo", 1), (1, "hi", 9), (2, "x", 5)], with_seq=True))
    sb.stage(_kv(spark, [(2, "y", 0)], with_seq=True))
    sb.publish(seq_col="seq")
    dom = Domain(spark, root)
    assert dom.get(b"1") == b"hi"
    assert dom.get(b"2") == b"y"


def test_nothing_visible_before_publish_and_cleanup_removes_junk(spark, tmp_path):
    spec = DomainSpec(num_shards=4)
    root = str(tmp_path / "dom")
    sb = StagedBuild(spark, root, spec, version=5)
    sb.stage(_kv(spark, [(1, "a")]))

    dom = Domain(spark, root)
    # unpublished: no version resolvable, status shows the build in flight
    with pytest.raises(DomainNotLoadedError):
        dom.scan()
    assert dom.status() == "loading"
    assert DomainStore.open(root).all_versions() == []

    # simulated crash: the handle is simply dropped; cleanup removes the
    # unpublished dir and its staged batches
    store = DomainStore.open(root)
    store.cleanup(versions_to_keep=1)
    assert not os.path.exists(store.version_path(5))
    assert not os.path.exists(store.staging_path(5))


def test_staging_into_existing_domain_merges_like_update(spark, tmp_path):
    spec = DomainSpec(num_shards=4)
    root = str(tmp_path / "dom")
    build_domain(spark, _kv(spark, [(1, "old1"), (2, "old2")]), root, spec, version=1)

    sb = StagedBuild(spark, root, version=2)
    sb.stage(_kv(spark, [(2, "new2")]))
    sb.stage(_kv(spark, [(3, "new3")]))
    assert Domain(spark, root).status() == "updating"  # serving v1 meanwhile
    sb.publish()

    dom = Domain(spark, root)
    assert dom.current_version() == 2
    assert dom.to_map() == {b"1": b"old1", b"2": b"new2", b"3": b"new3"}
    # v1 untouched (pinned read)
    assert dom.get(b"2", version=1) == b"old2"


def test_resume_after_restart_continues_staging(spark, tmp_path):
    spec = DomainSpec(num_shards=4)
    root = str(tmp_path / "dom")
    sb = StagedBuild(spark, root, spec, version=3)
    sb.stage(_kv(spark, [(1, "a")]))
    del sb  # "restart"

    sb2 = StagedBuild.resume(spark, root, version=3)
    assert sb2.stage(_kv(spark, [(2, "b")])) == 1
    sb2.publish()
    assert Domain(spark, root).to_map() == {b"1": b"a", b"2": b"b"}

    with pytest.raises(RuntimeError):
        StagedBuild.resume(spark, root, version=3)  # already published


def test_publish_failure_restores_staging_for_retry(spark, tmp_path):
    spec = DomainSpec(num_shards=4)
    root = str(tmp_path / "dom")
    sb = StagedBuild(spark, root, spec, version=1)
    sb.stage(_kv(spark, [(1, "a")]))

    def exploding_indexer(df):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        sb.publish(indexer=exploding_indexer)
    assert Domain(spark, root).status() == "failed"
    # staged data survived the failed publish; retry succeeds and clears
    # the failure
    sb.publish()
    dom = Domain(spark, root)
    assert dom.status() == "ready"
    assert dom.to_map() == {b"1": b"a"}


def test_abort_and_empty_publish_guardrails(spark, tmp_path):
    spec = DomainSpec(num_shards=4)
    root = str(tmp_path / "dom")
    sb = StagedBuild(spark, root, spec, version=1)
    with pytest.raises(RuntimeError):
        sb.publish()  # nothing staged
    sb.stage(_kv(spark, [(1, "a")]))
    sb.abort()
    store = DomainStore.open(root)
    assert not os.path.exists(store.version_path(1))
    assert not os.path.exists(store.staging_path(1))
    with pytest.raises(RuntimeError):
        sb.stage(_kv(spark, [(2, "b")]))


def test_cleanup_gcs_orphaned_staging_aside(spark, tmp_path):
    """A staging dir lives exactly as long as its unpublished version:
    cleanup deletes every ``.staging-*`` entry — the leftover of a
    published version and an abandoned unpublished build alike."""
    root = str(tmp_path / "d")
    build_domain(spark, _kv(spark, [(1, "a")]), root,
                 DomainSpec(num_shards=4), version=1)
    store = DomainStore.open(root)
    # leftover for a published version (crash after token, before rm)
    os.makedirs(store.staging_path(1))
    # an abandoned staged build: reserved version 9, one staged batch
    sb = StagedBuild(spark, root, version=9)
    sb.stage(_kv(spark, [(2, "b")]))
    store.cleanup(versions_to_keep=1)
    assert not os.path.exists(store.staging_path(1))
    assert not os.path.exists(store.staging_path(9))
    assert store.unpublished_versions() == []
    assert Domain(spark, root).get(b"1") == b"a"  # kept version untouched


def test_failed_update_keeps_domain_serving_in_catalog(spark, tmp_path):
    """ADVICE r2: the durable failure marker must not take a domain with
    a healthy published version out of register_views/is_fully_loaded."""
    from elephantdb_spark.build import update_domain
    from elephantdb_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "eng"))
    root = eng.domain_root("d")
    build_domain(spark, _kv(spark, [(1, "a")]), root,
                 DomainSpec(num_shards=4), version=1)

    def exploding_indexer(df):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        update_domain(spark, _kv(spark, [(2, "b")]), root, version=2,
                      indexer=exploding_indexer)
    dom = eng.domain("d")
    assert dom.status() == "failed"       # status machine unchanged
    assert dom.can_serve()                # but the published version serves
    assert eng.is_fully_loaded()
    assert eng.register_views() == ["edb_d"]
    assert spark.sql("SELECT count(*) c FROM edb_d").first().c == 1
