"""VersionedStore / DomainStore semantics ported from the reference suite
(test/elephantdb/store/versioned_store_test.clj:12-39,
test/elephantdb/common/spec_test.clj:9-24)."""

from __future__ import annotations

import os
import time

import pytest

from elephantdb_spark.spec import DomainSpec, SpecMismatchError
from elephantdb_spark.store import DomainStore, VersionedStore, shard_dirname


def test_create_succeed_resolve(tmp_path):
    vs = VersionedStore(str(tmp_path / "d"))
    assert vs.all_versions() == []
    assert vs.most_recent_version() is None

    p1 = vs.create_version(1)
    os.makedirs(p1)
    # unpublished versions are invisible (versioned_store_test.clj:30-39)
    assert vs.all_versions() == []
    vs.succeed_version(1)
    assert vs.all_versions() == [1]
    assert vs.most_recent_version() == 1

    p3 = vs.create_version(3)
    os.makedirs(p3)
    vs.succeed_version(3)
    assert vs.all_versions() == [3, 1]  # most recent first
    assert vs.most_recent_version() == 3
    # mostRecentVersion(maxVersion) is inclusive (VersionedStore.java:69-76)
    assert vs.most_recent_version(max_version=2) == 1
    assert vs.most_recent_version(max_version=3) == 3
    assert vs.most_recent_version(max_version=0) is None


def test_create_existing_version_fails(tmp_path):
    vs = VersionedStore(str(tmp_path))
    os.makedirs(vs.create_version(5))
    vs.succeed_version(5)
    with pytest.raises(RuntimeError):
        vs.create_version(5)
    # publishing refuses it before its rollback could delete version 5
    with pytest.raises(RuntimeError):
        with vs.publishing(5):
            pass
    assert vs.all_versions() == [5] and os.path.isdir(vs.version_path(5))
    assert vs.last_failure() is None


def test_create_clears_incomplete_leftover(tmp_path):
    vs = VersionedStore(str(tmp_path))
    p = vs.version_path(7)
    os.makedirs(p)
    open(os.path.join(p, "junk"), "w").close()
    path = vs.create_version(7)  # unpublished leftover → cleared
    assert not os.path.exists(path)


def test_fail_version_removes_everything(tmp_path):
    vs = VersionedStore(str(tmp_path))
    p = vs.create_version(9)
    os.makedirs(p)
    vs.succeed_version(9)
    vs.fail_version(9)
    assert vs.all_versions() == []
    assert not os.path.exists(p)


def test_cleanup_keeps_n_newest(tmp_path):
    vs = VersionedStore(str(tmp_path))
    for v in (1, 2, 3, 4):
        os.makedirs(vs.create_version(v))
        vs.succeed_version(v)
    # an unpublished junk dir should be removed too (VersionedStore.java:110-127)
    os.makedirs(vs.version_path(99))
    vs.cleanup(versions_to_keep=2)
    assert vs.all_versions() == [4, 3]
    assert not os.path.exists(vs.version_path(99))
    assert not os.path.exists(vs.version_path(1))


def test_spec_round_trip_and_mismatch(tmp_path):
    spec = DomainSpec(num_shards=4, persistence_opts={"compression": "snappy"})
    root = str(tmp_path / "dom")
    store = DomainStore.create_or_open(root, spec)
    assert store.spec == spec

    # reopen with equal spec OK
    DomainStore.create_or_open(root, DomainSpec(num_shards=4, persistence_opts={"compression": "snappy"}))
    # reopen with no spec OK (reads stored)
    assert DomainStore.open(root).spec == spec
    # mismatch → error (DomainStore.java:40-53)
    with pytest.raises(SpecMismatchError):
        DomainStore.create_or_open(root, DomainSpec(num_shards=8))


def test_spec_positive_shards():
    with pytest.raises(ValueError):
        DomainSpec(num_shards=0)


def test_synchronize_versions_copy_forward(tmp_path):
    spec = DomainSpec(num_shards=4)
    store = DomainStore.create_or_open(str(tmp_path / "dom"), spec)
    old = store.create_version(1)
    for s in (0, 1, 2, 3):
        d = os.path.join(old, shard_dirname(s))
        os.makedirs(d)
        open(os.path.join(d, f"part-{s}.parquet"), "w").write(str(s))
    store.succeed_version(1)

    new = store.create_version(2)
    d = os.path.join(new, shard_dirname(1))  # batch touched only shard 1
    os.makedirs(d)
    open(os.path.join(d, "part-new.parquet"), "w").write("new")

    copied = store.synchronize_versions(1, 2)
    assert copied == [0, 2, 3]
    assert os.path.exists(os.path.join(new, shard_dirname(0), "part-0.parquet"))
    # shard 1 not overwritten
    assert os.path.exists(os.path.join(new, shard_dirname(1), "part-new.parquet"))
    assert not os.path.exists(os.path.join(new, shard_dirname(1), "part-1.parquet"))


def test_cleanup_on_never_created_root_is_noop(tmp_path):
    # ADVICE r1: cleanup() on a root that was never created must not raise
    store = VersionedStore(str(tmp_path / "does_not_exist"))
    store.cleanup()
    store.cleanup(versions_to_keep=2)
    assert store.all_versions() == []


def test_cleanup_gcs_aside_of_version_deleted_in_same_pass(tmp_path):
    """Review finding (r4, pass 3): the staging dir of a version the
    same cleanup pass deletes must go too, whatever the listdir order."""
    import os

    from elephantdb_spark.store import VersionedStore

    vs = VersionedStore(str(tmp_path / "dom"))
    for v in (5, 6):
        vs.create_version(v)
        vs.succeed_version(v)
    aside = vs.staging_path(5)
    os.makedirs(aside)
    with open(os.path.join(aside, "batch-0"), "w") as fh:
        fh.write("staged")
    vs.cleanup(versions_to_keep=1)
    assert vs.all_versions() == [6]
    assert not os.path.exists(aside), "published-version aside must GC"


def test_yaml_spec_written_and_round_trips(tmp_path):
    """VERDICT r4 item 8: domain-spec.yaml (the reference's on-disk
    format, DomainSpec.java:20,131-159) is written beside the JSON and
    parses back to an equal spec."""
    import os

    import yaml

    from elephantdb_spark.spec import (
        SPEC_FILENAME,
        YAML_SPEC_FILENAME,
        DomainSpec,
    )

    spec = DomainSpec(num_shards=8, persistence_opts={"codec": "zstd"})
    root = str(tmp_path / "dom")
    spec.write(root)
    assert os.path.exists(os.path.join(root, SPEC_FILENAME))
    ypath = os.path.join(root, YAML_SPEC_FILENAME)
    assert os.path.exists(ypath)
    with open(ypath) as fh:
        y = yaml.safe_load(fh)
    # reference key names (DomainSpec.java:22-25)
    assert y["shard_count"] == 8
    assert y["shard_scheme"] == "elephantdb.partition.HashModScheme"
    assert y["persistence_opts"] == {"codec": "zstd"}
    assert DomainSpec.from_yaml_dict(y) == spec


def test_yaml_only_domain_opens(tmp_path):
    """A reference-format fixture (YAML only, reference class names)
    opens cleanly; the unknown coordinator is preserved so a data read
    fails honestly rather than silently."""
    import os

    from elephantdb_spark.spec import YAML_SPEC_FILENAME, DomainSpec

    root = str(tmp_path / "refdom")
    os.makedirs(root)
    # what the reference's snakeyaml dump of mapify() looks like
    with open(os.path.join(root, YAML_SPEC_FILENAME), "w") as fh:
        fh.write(
            "coordinator: elephantdb.persistence.JavaBerkDB\n"
            "persistence_opts: {}\n"
            "shard_count: 32\n"
            "shard_scheme: elephantdb.partition.HashModScheme\n"
        )
    assert DomainSpec.exists(root)
    spec = DomainSpec.read(root)
    assert spec.num_shards == 32
    assert spec.shard_scheme == "md5-mod"
    assert spec.persistence_format == "elephantdb.persistence.JavaBerkDB"


def test_missing_spec_still_raises_file_not_found(tmp_path):
    import pytest

    from elephantdb_spark.spec import DomainSpec

    with pytest.raises(FileNotFoundError):
        DomainSpec.read(str(tmp_path / "nowhere"))


def test_publishing_clean_exit_publishes_and_clears_failure(tmp_path):
    vs = VersionedStore(str(tmp_path))
    vs.record_failure(3, "earlier")
    with vs.publishing(4) as (v, path):
        assert (v, path) == (4, vs.version_path(4))
        os.makedirs(path)
        assert vs.all_versions() == []  # invisible until the token
    assert vs.all_versions() == [4]
    assert vs.last_failure() is None


def test_publishing_exception_rolls_back_and_records(tmp_path):
    vs = VersionedStore(str(tmp_path))
    err = ValueError("boom")
    with pytest.raises(ValueError) as info:
        with vs.publishing(5) as (_, path):
            os.makedirs(path)
            open(os.path.join(path, "part-0"), "w").close()
            raise err
    assert info.value is err
    assert not os.path.exists(vs.version_path(5))
    assert not os.path.exists(vs.token_path(5))
    assert vs.all_versions() == [] and vs.unpublished_versions() == []
    assert vs.last_failure() == {"version": 5, "error": repr(err)}


def test_publishing_default_version_is_epoch_ms(tmp_path):
    vs = VersionedStore(str(tmp_path))
    lo = int(time.time() * 1000)
    with vs.publishing() as (v, path):
        os.makedirs(path)
    assert lo <= v <= int(time.time() * 1000)
    assert vs.all_versions() == [v]


def test_default_version_ids_stay_distinct_within_one_millisecond(
    tmp_path, monkeypatch
):
    """Two default-id writers in the same millisecond: the second id is
    the newest published + 1, not a collision with it."""
    vs = VersionedStore(str(tmp_path))
    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    ids = []
    for _ in range(2):
        with vs.publishing() as (v, path):
            os.makedirs(path)
        ids.append(v)
    assert ids == [1_700_000_000_000, 1_700_000_000_001]
    assert vs.all_versions() == ids[::-1]
