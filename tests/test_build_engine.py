"""End-to-end build → read tests: the Spark restatement of the reference's
domain/service suites (test/elephantdb/common/domain_test.clj:35-79,
test/elephantdb/keyval/core_test.clj, persistence/keyval_test.clj:27-47).
Byte-exact comparisons throughout (barr= helpers, test/common.clj:51-74)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from elephantdb_spark import (
    DomainSpec,
    Engine,
    WrongHostError,
    build_domain,
    reshard,
    update_domain,
)
from elephantdb_spark.engine import DomainNotFoundError, DomainNotLoadedError
from elephantdb_spark.plans import scan_locations
from elephantdb_spark.sharding import shard_index
from elephantdb_spark.store import shard_dirname

SPEC4 = DomainSpec(num_shards=4)  # canonical reference test spec (test/common.clj:78-84)


def kv_df(spark, pairs, with_seq=False):
    if with_seq:
        return spark.createDataFrame(
            [(i, k, v) for i, (k, v) in enumerate(pairs)], "seq long, key binary, value binary"
        )
    return spark.createDataFrame(list(pairs), "key binary, value binary")


PAIRS = [(bytes([i]), bytes([i * 2 % 256])) for i in range(11)] + [
    (b"key", b"val"),
    (b"hey", b"there"),
    (b"", b"empty-key"),
    (b"\xff" * 16, b"high"),
]


@pytest.fixture
def domain_root(tmp_path, spark):
    root = str(tmp_path / "domains" / "test_kv")
    build_domain(spark, kv_df(spark, PAIRS), root, SPEC4, version=1)
    return root


def test_build_layout_and_publish(domain_root):
    # token-published version with hive-style shard dirs
    assert os.path.exists(os.path.join(os.path.dirname(domain_root), "test_kv"))
    assert os.path.exists(os.path.join(domain_root, "1.version"))
    shard_dirs = [d for d in os.listdir(os.path.join(domain_root, "1")) if d.startswith("shard=")]
    assert len(shard_dirs) >= 1
    for d in shard_dirs:
        files = [f for f in os.listdir(os.path.join(domain_root, "1", d)) if f.endswith(".parquet")]
        assert len(files) == 1  # exactly one sorted file per shard


def test_row_group_cap_default_and_override(spark, tmp_path):
    """Shard files default to SERVING_ROW_GROUP_BYTES row groups (probe
    granularity — per-probe decode is O(row-group rows), so the cap bounds
    serving cost independent of shard size) and the caller's own
    parquet.block.size wins over the default."""
    import pyarrow.parquet as pq

    from elephantdb_spark.build import SERVING_ROW_GROUP_BYTES

    # ~3 MB of rows: far below the 16 MiB default (ONE row group) but
    # far above a 64 KiB override (MANY row groups)
    kv = spark.range(100_000).select(
        F.concat(F.lit("k"), F.col("id")).cast("binary").alias("key"),
        F.concat(F.lit("v" * 20), F.col("id")).cast("binary").alias("value"),
    )

    def rg_counts(root):
        counts = []
        vdir = os.path.join(root, "1")
        for d in sorted(os.listdir(vdir)):
            if not d.startswith("shard="):
                continue
            for f in os.listdir(os.path.join(vdir, d)):
                if f.endswith(".parquet"):
                    counts.append(
                        pq.read_metadata(
                            os.path.join(vdir, d, f)
                        ).num_row_groups
                    )
        return counts

    dflt = str(tmp_path / "dflt")
    build_domain(spark, kv, dflt, DomainSpec(num_shards=2), version=1)
    assert all(c == 1 for c in rg_counts(dflt))  # below the 16 MiB cap

    small = str(tmp_path / "small")
    build_domain(
        spark, kv, small,
        DomainSpec(num_shards=2,
                   persistence_opts={"parquet.block.size": 1 << 16}),
        version=1,
    )
    assert all(c > 1 for c in rg_counts(small))  # override applied
    assert SERVING_ROW_GROUP_BYTES == 16 << 20

    # identical reads either way
    eng = Engine(spark, str(tmp_path))
    probe = [b"k0", b"k99999", b"missing"]
    assert (
        eng.domain("dflt").local_multi_get(probe)
        == eng.domain("small").local_multi_get(probe)
    )


def test_block_size_override_bounded(spark, tmp_path):
    """Serving-copy conversion and bulk_join decode row groups whole, so a
    NEW domain's parquet.block.size override above MAX_ROW_GROUP_BYTES is
    rejected before anything is written (no spec, no version), on every
    entry point that creates a domain, while the 16 MiB default is
    accepted when given explicitly. A domain whose spec predates the
    ceiling keeps its layout: it still updates, compacts and reads."""
    from elephantdb_spark.build import (
        MAX_ROW_GROUP_BYTES,
        StagedBuild,
        compact_domain,
        update_domain,
    )

    assert MAX_ROW_GROUP_BYTES == 32 << 20
    kv = kv_df(spark, [(b"a", b"1"), (b"b", b"2")])
    over = DomainSpec(num_shards=2,
                      persistence_opts={"parquet.block.size": 64 << 20})
    big = str(tmp_path / "big")
    with pytest.raises(ValueError, match="parquet.block.size"):
        build_domain(spark, kv, big, over, version=1)
    with pytest.raises(ValueError, match="parquet.block.size"):
        StagedBuild(spark, big, over, version=1)
    assert not os.path.exists(big)

    ok = str(tmp_path / "ok")
    build_domain(
        spark, kv, ok,
        DomainSpec(num_shards=2,
                   persistence_opts={"parquet.block.size": 16 << 20}),
        version=1,
    )
    eng = Engine(spark, str(tmp_path))
    assert eng.domain("ok").local_get(b"b") == b"2"

    legacy = str(tmp_path / "legacy")
    # a spec persisted before the ceiling existed; one row per file, so
    # compaction has fragmented shards to rewrite
    DomainSpec(num_shards=2, persistence_opts={
        "parquet.block.size": 64 << 20, "maxRecordsPerFile": 1,
    }).write(legacy)
    build_domain(spark, kv, legacy, version=1)
    update_domain(
        spark, kv_df(spark, [(b"b", b"3"), (b"c", b"4")]), legacy, version=2
    )
    assert compact_domain(spark, legacy, version=3) == 3
    assert eng.domain("legacy").local_multi_get([b"a", b"b", b"c"]) == {
        b"a": b"1", b"b": b"3", b"c": b"4",
    }


def test_rows_placed_on_correct_shards(spark, domain_root):
    from elephantdb_spark import Domain

    dom = Domain(spark, domain_root)
    rows = dom.scan().collect()
    assert len(rows) == len(PAIRS)
    for r in rows:
        assert r.shard == shard_index(bytes(r.key), 4)


def test_within_shard_key_order(spark, domain_root):
    from elephantdb_spark import Domain

    dom = Domain(spark, domain_root)
    for s in range(4):
        path = os.path.join(domain_root, "1", shard_dirname(s))
        if not os.path.isdir(path):
            continue
        keys = [bytes(r.key) for r in spark.read.parquet(path).select("key").collect()]
        assert keys == sorted(keys)  # A6/A13: storage order is key order


def test_get_hit_and_miss(spark, domain_root):
    from elephantdb_spark import Domain

    dom = Domain(spark, domain_root)
    assert dom.get(b"key") == b"val"
    assert dom.get(bytes([3])) == bytes([6])
    assert dom.get(b"") == b"empty-key"
    assert dom.get(b"nope") is None  # miss → None (JavaBerkDB.java:75-81)


def test_multi_get_preserves_misses(spark, domain_root):
    from elephantdb_spark import Domain

    dom = Domain(spark, domain_root)
    res = dom.multi_get([b"key", b"hey", b"missing1", bytes([5])])
    assert res == {
        b"key": b"val",
        b"hey": b"there",
        b"missing1": None,
        bytes([5]): bytes([10]),
    }


def test_direct_multi_get_wrong_host(spark, domain_root):
    from elephantdb_spark import Domain

    dom = Domain(spark, domain_root)
    s = shard_index(b"key", 4)
    res = dom.direct_multi_get_df([b"key"], [s]).collect()
    assert bytes(res[0].value) == b"val"
    other = [x for x in range(4) if x != s]
    with pytest.raises(WrongHostError):
        dom.direct_multi_get_df([b"key"], other)
    # owning every shard still reads only the shard the key hashes to
    df = dom.direct_multi_get_df([b"key"], list(range(4)))
    assert bytes(df.collect()[0].value) == b"val"
    scanned = set(re.findall(r"shard=(\d+)", " ".join(scan_locations(df))))
    assert scanned == {str(s)}, scanned


def test_count_and_to_map(spark, domain_root):
    from elephantdb_spark import Domain

    dom = Domain(spark, domain_root)
    assert dom.count() == len(PAIRS)
    assert dom.to_map()[b"hey"] == b"there"


def test_last_writer_wins_dedup(spark, tmp_path):
    # persistence/keyval_test.clj:27-47 — re-put overwrites within a build
    root = str(tmp_path / "lww")
    pairs = [(b"a", b"1"), (b"b", b"2"), (b"a", b"3"), (b"a", b"4"), (b"c", b"5")]
    build_domain(spark, kv_df(spark, pairs, with_seq=True), root, SPEC4, version=1, seq_col="seq")
    from elephantdb_spark import Domain

    dom = Domain(spark, root)
    assert dom.to_map() == {b"a": b"4", b"b": b"2", b"c": b"5"}


def test_incremental_update_merges_and_copies_forward(spark, tmp_path):
    root = str(tmp_path / "incr")
    n = 8
    spec = DomainSpec(num_shards=n)
    v1_pairs = [(str(i).encode(), b"old") for i in range(50)]
    build_domain(spark, kv_df(spark, v1_pairs), root, spec, version=1)

    batch = [(b"3", b"new"), (b"999", b"added")]
    update_domain(spark, kv_df(spark, batch), root, version=2)

    from elephantdb_spark import Domain

    dom = Domain(spark, root)
    assert dom.current_version() == 2
    m = dom.to_map(version=2)
    assert m[b"3"] == b"new"          # new wins
    assert m[b"999"] == b"added"      # insert
    assert m[b"7"] == b"old"          # untouched key survives
    assert len(m) == 51
    # untouched shards are file-copies, not rewrites: same file names as v1
    touched = {shard_index(k, n) for k, _ in batch}
    for s in range(n):
        old_dir = os.path.join(root, "1", shard_dirname(s))
        new_dir = os.path.join(root, "2", shard_dirname(s))
        if s not in touched and os.path.isdir(old_dir):
            assert sorted(os.listdir(old_dir)) == sorted(os.listdir(new_dir))
    # old version still readable (time travel)
    assert dom.to_map(version=1)[b"3"] == b"old"


def test_update_merge_plans_from_measured_batch_size(spark, tmp_path, monkeypatch):
    """update_domain has one merge path: an unhinted anti-join of the old
    data against the cached, counted batch's keys. By default the planner
    broadcasts the batch from its measured size; with broadcasting off
    (``autoBroadcastJoinThreshold=-1``) it plans a sort-merge join, and
    both publish the same domain."""
    import elephantdb_spark.build as build
    from elephantdb_spark import Domain

    def kv(lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id").cast("string").cast("binary").alias("key"),
            F.lit(tag).cast("binary").alias("value"),
        )

    plans = []
    real = build._write_shards

    def capture(spark_, df, spec, sort_col, path, opts):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(spark_, df, spec, sort_col, path, opts)

    conf = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(conf)
    results = []
    for threshold in (default, "-1"):
        root = str(tmp_path / f"merge{threshold}")
        build_domain(spark, kv(0, 3000, "old"), root, SPEC4, version=1)
        plans.clear()
        monkeypatch.setattr(build, "_write_shards", capture)
        spark.conf.set(conf, threshold)
        try:
            update_domain(spark, kv(2000, 7000, "new"), root, version=2)
        finally:
            spark.conf.set(conf, default)
            monkeypatch.setattr(build, "_write_shards", real)
        assert len(plans) == 1
        results.append((Domain(spark, root).to_map(), plans[0]))
    (want, broadcast_plan), (got, sort_merge_plan) = results
    assert want == {
        str(i).encode(): (b"old" if i < 2000 else b"new") for i in range(7000)
    }
    assert got == want
    assert "BroadcastHashJoin" in broadcast_plan and "LeftAnti" in broadcast_plan
    assert "SortMergeJoin" in sort_merge_plan and "LeftAnti" in sort_merge_plan
    assert "BroadcastHashJoin" not in sort_merge_plan


def test_reshard_preserves_content(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    build_domain(spark, kv_df(spark, PAIRS), src, SPEC4, version=1)
    reshard(spark, src, dst, new_num_shards=7, version=1)
    from elephantdb_spark import Domain

    a, b = Domain(spark, src), Domain(spark, dst)
    assert a.to_map() == b.to_map()
    assert b.spec.num_shards == 7
    for r in b.scan().collect():
        assert r.shard == shard_index(bytes(r.key), 7)


def test_version_pinned_read_and_resolution(spark, tmp_path):
    root = str(tmp_path / "versions")
    build_domain(spark, kv_df(spark, [(b"k", b"v1")]), root, SPEC4, version=1)
    build_domain(spark, kv_df(spark, [(b"k", b"v2")]), root, version=2)
    from elephantdb_spark import Domain

    dom = Domain(spark, root)
    assert dom.get(b"k") == b"v2"
    assert dom.get(b"k", version=1) == b"v1"
    assert dom.versions() == [2, 1]
    assert dom.store.most_recent_version(max_version=1) == 1
    with pytest.raises(DomainNotLoadedError):
        dom.scan(version=99)


def test_failed_build_leaves_no_version(spark, tmp_path):
    root = str(tmp_path / "fail")
    bad = spark.createDataFrame([(b"k", b"v")], "key binary, value binary")

    def exploding_indexer(df):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        build_domain(spark, bad, root, SPEC4, version=1, indexer=exploding_indexer)
    from elephantdb_spark.store import DomainStore

    assert DomainStore.open(root).all_versions() == []


def test_indexer_hook(spark, tmp_path):
    # A10: write-time doc transform (Indexer.java:8-9)
    root = str(tmp_path / "indexed")

    def upper_indexer(df):
        return df.withColumn("value", F.upper(F.col("value").cast("string")).cast("binary"))

    build_domain(
        spark,
        kv_df(spark, [(b"k1", b"hello"), (b"k2", b"world")]),
        root,
        SPEC4,
        version=1,
        indexer=upper_indexer,
    )
    from elephantdb_spark import Domain

    assert Domain(spark, root).to_map() == {b"k1": b"HELLO", b"k2": b"WORLD"}


def test_engine_catalog(spark, tmp_path):
    root = str(tmp_path / "db")
    eng = Engine(spark, root)
    assert eng.list_domains() == []
    build_domain(spark, kv_df(spark, PAIRS), eng.domain_root("dom_a"), SPEC4, version=1)
    build_domain(
        spark, kv_df(spark, [(b"x", b"y")]), eng.domain_root("dom_b"), DomainSpec(num_shards=3), version=1
    )
    assert eng.list_domains() == ["dom_a", "dom_b"]
    assert eng.get_status() == {"dom_a": "ready", "dom_b": "ready"}
    assert eng.is_fully_loaded()
    assert eng.get("dom_a", b"key") == b"val"
    assert eng.get_count("dom_b") == 1
    md = eng.metadata()
    assert md["dom_a"]["spec"]["num_shards"] == 4
    with pytest.raises(DomainNotFoundError):
        eng.domain("nope")
    assert eng.purge_unused_domains(keep=["dom_a"]) == ["dom_b"]
    assert eng.list_domains() == ["dom_a"]


def test_version_gc(spark, tmp_path):
    root = str(tmp_path / "gc")
    for v in (1, 2, 3):
        build_domain(spark, kv_df(spark, [(b"k", str(v).encode())]), root,
                     SPEC4 if v == 1 else None, version=v)
    from elephantdb_spark import Domain

    dom = Domain(spark, root)
    dom.cleanup_versions(versions_to_keep=1)
    assert dom.versions() == [3]
    assert not os.path.exists(os.path.join(root, "1"))


def test_engine_update_and_update_all(spark, tmp_path):
    """A28 thrift update/updateAll: remote→local pull of newer versions."""
    from elephantdb_spark import DomainSpec, Engine, build_domain

    remote = Engine(spark, str(tmp_path / "remote"))
    local = Engine(spark, str(tmp_path / "local"))
    kv = spark.createDataFrame([(b"a", b"1"), (b"b", b"2")], "key binary, value binary")
    for name in ("d1", "d2"):
        build_domain(spark, kv, remote.domain_root(name), DomainSpec(num_shards=2), version=1)

    results = local.update_all(str(tmp_path / "remote"))
    assert results == {"d1": 1, "d2": 1}
    assert local.get("d1", b"a") == b"1"
    # already current → None
    assert local.update("d2", str(tmp_path / "remote")) is None

    # remote publishes v2 → update pulls it and GCs old local version
    from elephantdb_spark import update_domain
    kv2 = spark.createDataFrame([(b"a", b"NEW")], "key binary, value binary")
    update_domain(spark, kv2, remote.domain_root("d1"), version=2)
    assert local.update("d1", str(tmp_path / "remote")) == 2
    assert local.get("d1", b"a") == b"NEW"
    assert local.domain("d1").versions() == [2]  # keep 1


def test_register_views_sql_surface(spark, tmp_path):
    from elephantdb_spark import DomainSpec, Engine, build_domain

    eng = Engine(spark, str(tmp_path / "cat"))
    kv = spark.createDataFrame(
        [(b"1", b"one"), (b"2", b"two")], "key binary, value binary"
    )
    build_domain(spark, kv, eng.domain_root("nums"), DomainSpec(num_shards=2), version=1)
    views = eng.register_views()
    assert views == ["edb_nums"]
    row = spark.sql(
        "SELECT cast(value AS STRING) AS v FROM edb_nums "
        "WHERE cast(key AS STRING) = '2'"
    ).first()
    assert row["v"] == "two"
    assert spark.sql("SELECT COUNT(*) AS n FROM edb_nums").first()["n"] == 2
