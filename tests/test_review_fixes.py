"""Regression tests for the code-review findings: each test exercises the
exact failure scenario that used to break."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elephantdb_spark import DomainSpec, build_domain, reshard
from elephantdb_spark.engine import Domain
from elephantdb_spark.spec import SpecMismatchError
from elephantdb_spark.streaming import sync_domain

PAIRS = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(40)]


def _kv(spark, pairs=PAIRS):
    return spark.createDataFrame(list(pairs), "key binary, value binary")


def test_reshard_honors_orc_format(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    build_domain(
        spark, _kv(spark), src,
        DomainSpec(num_shards=4, persistence_format="orc"), version=1,
    )
    reshard(spark, src, dst, 2, version=1)
    dom = Domain(spark, dst)
    assert dom.spec.persistence_format == "orc"
    assert dom.count() == len(PAIRS)
    assert dom.get(b"k7") == b"v7"


def test_sync_domain_rejects_spec_drift(spark, tmp_path):
    remote = str(tmp_path / "remote" / "d")
    local = str(tmp_path / "local" / "d")
    build_domain(spark, _kv(spark), remote, DomainSpec(num_shards=4), version=1)
    assert sync_domain(remote, local) == 1
    # remote is rebuilt under a different shard count at the same root
    import shutil

    shutil.rmtree(remote)
    build_domain(spark, _kv(spark), remote, DomainSpec(num_shards=2), version=2)
    with pytest.raises(SpecMismatchError):
        sync_domain(remote, local)


def test_sync_domain_remote_untouched(spark, tmp_path):
    """Polling must never create files inside the remote store."""
    remote = str(tmp_path / "remote" / "d")
    local = str(tmp_path / "local" / "d")
    build_domain(spark, _kv(spark), remote, DomainSpec(num_shards=2), version=1)
    before = sorted(os.listdir(remote))
    sync_domain(remote, local)
    sync_domain(remote, local)  # up-to-date poll
    assert sorted(os.listdir(remote)) == before
    # and polling a MISSING remote domain creates nothing at all
    ghost = str(tmp_path / "remote" / "ghost")
    assert sync_domain(ghost, str(tmp_path / "local" / "ghost")) is None
    assert not os.path.exists(ghost)


def test_stream_build_replayed_published_version_skips(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch whose pinned
    version already published must be a no-op, not an error."""
    from elephantdb_spark.streaming import stream_build

    feed = str(tmp_path / "feed")
    root = str(tmp_path / "dom")
    os.makedirs(feed)
    import glob
    import shutil
    import tempfile

    staging = tempfile.mkdtemp()
    _kv(spark, [(b"a", b"1")]).coalesce(1).write.mode("overwrite").parquet(staging)
    shutil.copy(
        glob.glob(os.path.join(staging, "part-*.parquet"))[0],
        os.path.join(feed, "b1.parquet"),
    )
    q = stream_build(
        spark, feed, root, DomainSpec(num_shards=2), version_fn=lambda bid: bid + 1
    )
    q.awaitTermination(120)
    assert Domain(spark, root).to_map() == {b"a": b"1"}

    # simulate checkpoint loss → the same file replays as batch 0 again
    shutil.rmtree(os.path.join(root, "_checkpoint"))
    q = stream_build(
        spark, feed, root, DomainSpec(num_shards=2), version_fn=lambda bid: bid + 1
    )
    q.awaitTermination(120)
    dom = Domain(spark, root)
    assert dom.versions() == [1]  # not re-published, not failed
    assert dom.to_map() == {b"a": b"1"}


def test_empty_domain_scan_count_and_views(spark, tmp_path):
    root = str(tmp_path / "empty")
    build_domain(
        spark,
        spark.createDataFrame([], "key binary, value binary"),
        root, DomainSpec(num_shards=4), version=1,
    )
    dom = Domain(spark, root)
    assert dom.count() == 0
    assert dom.to_map() == {}
    assert dom.scan().collect() == []
    assert dom.get(b"anything") is None


def test_blank_documents_produce_no_shingle_pairs(spark):
    from elephantdb_spark.operators.dedup import (
        jaccard_shingle_pairs,
        simhash_neardup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, "real text with several words here")],
        "doc_id long, text string",
    )
    # blank docs must NOT pair with each other via a shared '' token
    assert simhash_neardup_pairs(docs, "doc_id", "text", shingle_len=1).count() == 0
    assert jaccard_shingle_pairs(docs, "doc_id", "text", shingle_len=1).count() == 0


# ---- second review round (session 2) --------------------------------------


def test_composite_null_key_does_not_collide(spark, tmp_path):
    """concat_ws silently skips NULLs: ("a-b", NULL) would collide with
    ("a", "b"). Now a NULL component yields a NULL key, and the build
    rejects NULL keys loudly instead of hiding the row in a hive default
    partition."""
    from elephantdb_spark import DomainSpec, build_domain
    from elephantdb_spark.sources import kv_from_columns

    df = spark.createDataFrame(
        [("a-b", None, "v1"), ("a", "b", "v2")], "x string, y string, v string"
    )
    kv = kv_from_columns(df, ["x", "y"], "v")
    rows = {(None if r.key is None else bytes(r.key)): bytes(r.value) for r in kv.collect()}
    assert rows == {None: b"v1", b"a-b": b"v2"}

    import pytest

    with pytest.raises(Exception, match="key must not be NULL"):
        build_domain(spark, kv, str(tmp_path / "nullkey"),
                     DomainSpec(num_shards=2), version=1)


def test_count_exchanges_ignores_reused_and_broadcast(spark):
    from pyspark.sql import functions as F

    from elephantdb_spark.plans import count_exchanges, plan_str

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    agg = li.groupBy("l_returnflag").count()
    doubled = agg.union(agg)
    plan = plan_str(doubled)
    n = count_exchanges(doubled)
    if "ReusedExchange" in plan:
        # the reused line embeds the original Exchange description — it
        # must not double-count
        assert n == 1, plan
    else:
        assert n == 2, plan
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    bcast = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert count_exchanges(bcast) == 0


def test_asof_join_ignores_null_right_rows(spark):
    from elephantdb_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 10, "e")], "k long, ts long, name string")
    right = spark.createDataFrame(
        [(1, None, 99, 9.9), (None, 5, 98, 8.8)],
        "k long, ts long, rk long, price double",
    )
    row = asof_join(left, right, "k", "k", "ts", "ts", ["rk", "price"]).first()
    assert row.rk is None and row.price is None  # NULL never matches (SQL)


def test_multi_grain_rollup_rejects_non_multiples(spark):
    import pytest
    from pyspark.sql import functions as F

    from elephantdb_spark.analytics import multi_grain_rollup

    df = spark.createDataFrame([(1, 1.0)], "ts long, value double")
    with pytest.raises(ValueError, match="exact multiple"):
        multi_grain_rollup(df, F.timestamp_micros(F.col("ts")), [], "value",
                           grains=["7 minutes", "1 hour"])
    with pytest.raises(ValueError, match="unsupported grain"):
        multi_grain_rollup(df, F.timestamp_micros(F.col("ts")), [], "value",
                           grains=["1 fortnight"])


def test_ivf_knn_join_string_ids(spark):
    """The arrow scorer's output schema follows the id column's type."""
    import numpy as np

    from elephantdb_spark.operators.ann import ivf_knn_join, knn_join

    rng = np.random.default_rng(7)
    rows = [(f"doc{i:03d}", [float(x) for x in rng.standard_normal(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    exact = {(r.a, r.rk): r.b for r in knn_join(df, k=2).collect()}
    arrow = {
        (r.a, r.rk): r.b
        for r in ivf_knn_join(df, k=2, n_cells=4, n_probe=4, scorer="arrow").collect()
    }
    assert exact == arrow


# ---- third review round -----------------------------------------------------


def test_update_domain_rejects_null_keys(spark, tmp_path):
    """The NULL-key guard also covers the incremental-update path (which
    computes its own shard column)."""
    import pytest

    from elephantdb_spark import DomainSpec, build_domain, update_domain

    root = str(tmp_path / "d")
    ok = spark.createDataFrame([(b"a", b"1")], "key binary, value binary")
    build_domain(spark, ok, root, DomainSpec(num_shards=2), version=1)
    bad = spark.createDataFrame([(None, b"x"), (b"b", b"2")], "key binary, value binary")
    with pytest.raises(Exception, match="key must not be NULL"):
        update_domain(spark, bad, root, version=2)


def test_domain_caches_drop_on_version_change(spark, tmp_path):
    """Version GC must invalidate the local copies / DataFrames (copies of
    deleted shard files would otherwise hold disk)."""
    from elephantdb_spark import DomainSpec, Engine, build_domain, update_domain

    eng = Engine(spark, str(tmp_path))
    kv = spark.createDataFrame(
        [(str(i).encode(), b"v") for i in range(50)], "key binary, value binary"
    )
    build_domain(spark, kv, eng.domain_root("d"), DomainSpec(num_shards=2), version=1)
    dom = eng.domain("d")
    assert dom.local_get(b"1") == b"v"
    assert len(dom._served.copies) > 0
    batch = spark.createDataFrame([(b"1", b"NEW")], "key binary, value binary")
    update_domain(spark, batch, eng.domain_root("d"), version=2)
    dom.cleanup_versions(versions_to_keep=1)
    # same cached handle (Engine memoizes); caches must refresh
    assert eng.domain("d") is dom
    assert dom.local_get(b"1") == b"NEW"
    assert dom.get(b"2") == b"v"


def test_asof_join_validates_value_cols(spark):
    import pytest

    from elephantdb_spark.operators.temporal import asof_join

    l = spark.createDataFrame([(1, 1, 2.0)], "k long, ts long, price double")
    r = spark.createDataFrame([(1, 1, 3.0)], "k long, ts long, price double")
    with pytest.raises(ValueError, match="non-empty"):
        asof_join(l, r, "k", "k", "ts", "ts", [])
    with pytest.raises(ValueError, match="collide"):
        asof_join(l, r, "k", "k", "ts", "ts", ["price"])


def test_grain_rejects_zero(spark):
    import pytest
    from pyspark.sql import functions as F

    from elephantdb_spark.analytics import multi_grain_rollup

    df = spark.createDataFrame([(1, 1.0)], "ts long, value double")
    with pytest.raises(ValueError, match="unsupported grain"):
        multi_grain_rollup(df, F.timestamp_micros(F.col("ts")), [], "value",
                           grains=["0 hours", "1 day"])


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_rdd_ids(spark) -> set[int]:
    return {
        int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()
    }


def _assert_rdds_drain_to(spark, base: int, timeout: float = 10.0) -> None:
    """Assert the persisted-RDD census returns to <= base.

    Spark's unpersist is asynchronous (blocking=False is the operators'
    default release mode), so under host load the census can lag the
    release call by a beat — poll briefly instead of racing it (a
    one-shot == flaked exactly once in ~600 suite runs).  Below base is
    fine: it means base itself counted a previous test's still-draining
    RDD."""
    import time

    deadline = time.monotonic() + timeout
    n = _n_persistent_rdds(spark)
    while n > base and time.monotonic() < deadline:
        time.sleep(0.2)
        n = _n_persistent_rdds(spark)
    assert n <= base, f"{n} persisted RDDs still registered (base {base})"


def test_release_pins_frees_exactly_the_operator_pins(spark):
    """Round-2 verdict: near-dup operators persisted their shingle index
    with no unpersist path, so long sessions (bench, the driver sweep)
    accumulated storage-memory pressure. release_pins() is the
    deterministic lifecycle: it frees exactly the pins the operator made
    and leaves every other persisted RDD alone."""
    from elephantdb_spark import pinning
    from elephantdb_spark.operators.dedup import minhash_lsh_pairs

    pinning.release_pins()  # drain pins a previous test left behind
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3 + str(i % 5))
         for i in range(30)],
        "doc_id long, text string",
    )
    own = spark.sparkContext.parallelize(range(10)).persist()
    own.count()
    before = _persistent_rdd_ids(spark)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_perm=8, bands=4,
                              threshold=0.5)
    pairs.count()
    # ids, not a count: an older RDD the context cleaner frees meanwhile
    # must not mask or fake the operator's own
    added = _persistent_rdd_ids(spark) - before
    assert added  # the index really was pinned
    recorded = set(pinning._PINNED[spark.sparkContext.applicationId])
    assert recorded == added
    assert pinning.release_pins() == len(added)
    after = _persistent_rdd_ids(spark)
    assert not added & after, f"pinned RDDs {sorted(added & after)} still registered"
    assert own.id() in after  # the test's own persist is left alone
    own.unpersist()


def test_clean_corpus_pins_drain_after_release(spark):
    from elephantdb_spark.pinning import release_pins
    from elephantdb_spark.pipeline import clean_corpus

    release_pins()
    base = _n_persistent_rdds(spark)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta " * 5 + str(i))
         for i in range(20)],
        "doc_id long, text string",
    )
    # held, so the context cleaner cannot free the pin before release
    out = clean_corpus(docs, min_tokens=5, neardup="minhash", num_perm=8,
                       bands=4, neardup_scope="pairs")
    out.count()
    assert release_pins() == 1  # the minhash shingle index
    # nothing else in the pipeline stays persisted
    _assert_rdds_drain_to(spark, base)


def test_broadcast_toggles_match_broadcast_path(spark):
    """broadcast_drop/broadcast_hits/broadcast_losers=False (ADVICE r2:
    escape hatch for drop-sets past the 8 GB broadcast limit) must return
    identical rows to the broadcast default."""
    from elephantdb_spark.operators.components import dedup_by_components
    from elephantdb_spark.operators.quality import decontaminate
    from elephantdb_spark.pipeline import clean_corpus

    docs = spark.createDataFrame(
        [(i, "one two three four five six seven eight nine ten " * 2 + str(i % 4))
         for i in range(24)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 4), (4, 8), (1, 5), (2, 6)], "a long, b long"
    )
    kept_b = {r.doc_id for r in dedup_by_components(docs, pairs, "doc_id").collect()}
    kept_s = {r.doc_id for r in
              dedup_by_components(docs, pairs, "doc_id", broadcast_drop=False).collect()}
    assert kept_b == kept_s and {4, 8, 5, 6}.isdisjoint(kept_s)

    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corp = docs.filter(F.col("doc_id") % 7 != 0)
    d_b = {r.doc_id for r in decontaminate(corp, bench, "doc_id", "text", 3).collect()}
    d_s = {r.doc_id for r in
           decontaminate(corp, bench, "doc_id", "text", 3,
                         broadcast_hits=False).collect()}
    assert d_b == d_s

    c_b = {r.doc_id for r in
           clean_corpus(docs, min_tokens=5, neardup="minhash", num_perm=8,
                        bands=4, neardup_scope="pairs").collect()}
    from elephantdb_spark.pinning import release_pins
    release_pins()
    c_s = {r.doc_id for r in
           clean_corpus(docs, min_tokens=5, neardup="minhash", num_perm=8,
                        bands=4, neardup_scope="pairs",
                        broadcast_losers=False).collect()}
    release_pins()
    assert c_b == c_s


def test_inverted_index_bounded_state_plan(spark):
    """ADVICE r2: with max_postings the (token, doc) pairs must be ranked
    and filtered BEFORE collect_list so no aggregation buffer holds a
    corpus-sized posting array — the plan should contain a Window above
    the pair-distinct and below the final aggregate."""
    from elephantdb_spark.operators.quality import inverted_index

    docs = spark.createDataFrame(
        [(i, "common word unique" + str(i)) for i in range(10)],
        "doc_id long, text string",
    )
    out = inverted_index(docs, "doc_id", "text", max_postings=3)
    assert "Window" in out._jdf.queryExecution().optimizedPlan().toString()
    rows = {r.token: (r.df_count, r.postings) for r in out.collect()}
    assert rows["common"] == (10, "0,1,2")
    assert rows["word"] == (10, "0,1,2")
    assert rows["unique7"] == (1, "7")


# ---- r18 ADVICE items (r19) ---------------------------------------------


def test_lang_id_pick_empty_scores_is_und(spark):
    """r18 ADVICE item 3: lang_id_pick({}) used to leave the WHEN chain
    None and raise AttributeError; the documented no-markers answer is
    'und'."""
    from elephantdb_spark.functions.text import lang_id_pick

    df = spark.range(3).select(lang_id_pick({}).alias("lang"))
    assert [r.lang for r in df.collect()] == ["und"] * 3


def test_digest128_matches_inline_derivation(spark):
    """r18 ADVICE item 2: every digest-keyed path derives through one
    shared helper; pin that the helper equals the historical inline
    two-seeded-xxhash64 derivation (sidecar/domain compat)."""
    from elephantdb_spark.operators.dedup import (
        _DIGEST_SEED,
        digest128,
        digest128_null_safe,
    )

    df = spark.createDataFrame(
        [("abc",), (None,), ("",)], "t string"
    )
    d0, d1 = digest128(F.col("t"))
    rows = df.select(
        d0.alias("h0"),
        d1.alias("h1"),
        F.xxhash64("t").alias("e0"),
        F.xxhash64("t", F.lit(_DIGEST_SEED)).alias("e1"),
    ).collect()
    assert all(r.h0 == r.e0 and r.h1 == r.e1 for r in rows)
    n0, n1 = digest128_null_safe(["t"])
    nrows = df.select(
        n0.alias("h0"),
        n1.alias("h1"),
        F.xxhash64(F.col("t"), F.col("t").isNull()).alias("e0"),
        F.xxhash64(
            F.col("t"), F.col("t").isNull(), F.lit(_DIGEST_SEED)
        ).alias("e1"),
    ).collect()
    assert all(r.h0 == r.e0 and r.h1 == r.e1 for r in nrows)
    # null vs empty-string must stay distinguishable (the null-mix rule)
    assert len({(r.h0, r.h1) for r in nrows}) == 3
