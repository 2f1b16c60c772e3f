"""Local serving-path tests: pyarrow point probes must agree byte-for-byte
with the Spark read path (the reference's serving read is exactly this — a
local persistence probe, JavaBerkDB.java:70-82, never a cluster job)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elephantdb_spark import DomainSpec, Engine, build_domain

PAIRS = [(f"key{i:04d}".encode(), f"val{i}".encode()) for i in range(500)]


def _spy_pool(dom) -> list:
    """Record every pool a probe on ``dom`` is handed (the fanout
    dispatch asks ``_fanout_pool`` only when it fans a batch out)."""
    handed: list = []
    real = dom._fanout_pool

    def spy():
        pool = real()
        handed.append(pool)
        return pool

    dom._fanout_pool = spy
    return handed


@pytest.fixture(scope="module")
def dom(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("serve") / "d")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8),
        version=1,
    )
    from elephantdb_spark.engine import Domain

    return Domain(spark, root)


def test_local_get_agrees_with_spark_get(dom):
    for k in (b"key0000", b"key0042", b"key0499"):
        assert dom.local_get(k) == dom.get(k)
        assert dom.local_get(k) is not None


def test_local_get_miss_and_empty_key(dom):
    assert dom.local_get(b"nope") is None
    assert dom.local_get(b"") is None


def test_local_multi_get_mixed(dom):
    keys = [b"key0001", b"key0250", b"missing", b""]
    got = dom.local_multi_get(keys)
    assert set(got) == set(keys)
    assert got[b"key0001"] == b"val1"
    assert got[b"key0250"] == b"val250"
    assert got[b"missing"] is None
    spark_got = dom.multi_get(keys)
    assert got == spark_got


def test_local_get_on_pinned_version(spark, tmp_path):
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "versioned")
    build_domain(
        spark,
        spark.createDataFrame([(b"a", b"1")], "key binary, value binary"),
        root, DomainSpec(num_shards=2), version=1,
    )
    update_domain(
        spark,
        spark.createDataFrame([(b"a", b"2")], "key binary, value binary"),
        root, version=2,
    )
    d = Domain(spark, root)
    assert d.local_get(b"a") == b"2"
    assert d.local_get(b"a", version=1) == b"1"


def test_row_group_size_opt_respected(spark, tmp_path):
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "rg")
    pairs = [(f"k{i:05d}".encode(), (b"x" * 100)) for i in range(20000)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=2, persistence_opts={"parquet.block.size": 65536}),
        version=1,
    )
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{root}/1/shard=*/*.parquet")
    assert files
    # small block size → multiple row groups per shard file, so the local
    # probe's min/max skipping has something to skip
    assert any(pq.ParquetFile(f).metadata.num_row_groups > 1 for f in files)
    d = Domain(spark, root)
    assert d.local_get(b"k00042") == b"x" * 100


def test_concurrent_local_multi_get_threads(dom):
    """VERDICT r4 item 3: the reference serves with 64 Thrift worker
    threads (common/thrift.clj:111-118) — the local probe and its
    _pq_cache must survive concurrent callers. 8 threads hammer
    overlapping key sets through one Domain handle; every result must be
    exactly correct (a racing ParquetFile read or a corrupted cache dict
    shows up as a wrong/None value or an exception)."""
    import threading

    truth = dict(PAIRS)
    keysets = [
        [f"key{(i * 7 + t) % 500:04d}".encode() for i in range(50)]
        + [f"miss{t}".encode()]
        for t in range(8)
    ]
    errors: list[BaseException] = []

    def worker(t):
        try:
            for _ in range(5):
                res = dom.local_multi_get(keysets[t])
                for k in keysets[t]:
                    expect = truth.get(k)
                    assert res[k] == expect, (k, res[k], expect)
        except BaseException as e:  # noqa: BLE001 - collected for the main thread
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors[:3]


def test_serving_caches_lru_keep_hot_entry(dom, monkeypatch):
    """VERDICT r6 item 3: the handle/listing caches evict LRU per entry,
    not wholesale — a hot entry re-touched between cold inserts must
    survive a sweep larger than the capacity (the old clear() dropped it
    the moment the 512th cold file arrived), and capacity holds."""
    import glob
    import os

    import elephantdb_spark.engine as eng

    files = sorted(
        glob.glob(os.path.join(dom.store.version_path(1), "shard=*", "*.parquet"))
    )
    assert len(files) >= 6
    hot = files[0]
    monkeypatch.setattr(eng, "SERVING_CACHE_CAP", 3)
    dom._pq_cache.clear()
    dom._dir_cache.clear()
    hot_entry = dom._open_shard_file(hot)
    for cold in files[1:6]:
        assert dom._open_shard_file(hot) is hot_entry  # re-touch: hot
        dom._open_shard_file(cold)
    assert dom._open_shard_file(hot) is hot_entry
    assert len(dom._pq_cache) <= 3
    assert hot in dom._pq_cache
    # listings: same policy
    dirs = sorted({os.path.dirname(f) for f in files})
    hot_dir = dirs[0]
    hot_files = dom._shard_file_list(hot_dir)
    for cold_dir in dirs[1:6]:
        assert dom._shard_file_list(hot_dir) is hot_files
        dom._shard_file_list(cold_dir)
    assert dom._shard_file_list(hot_dir) is hot_files
    assert len(dom._dir_cache) <= 3
    dom._pq_cache.clear()
    dom._dir_cache.clear()


def test_rg_bound_index_matches_stats_walk(spark, tmp_path):
    """VERDICT r6 item 2: the cached row-group bound index + bisect must
    find every key the old per-probe stats walk found — including on
    fragmented multi-file, multi-row-group domains after appends."""
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "frag")
    pairs = [(f"k{i:05d}".encode(), f"v{i}".encode() * 10) for i in range(8000)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=2, persistence_opts={"parquet.block.size": 8192}),
        version=1,
    )
    # appends fragment the shard dirs (multiple files per shard)
    update_domain(
        spark,
        spark.createDataFrame(
            [(f"k{i:05d}".encode(), b"NEW") for i in range(0, 8000, 1000)],
            "key binary, value binary",
        ),
        root,
        version=2,
    )
    d = Domain(spark, root)
    keys = [f"k{i:05d}".encode() for i in range(0, 8000, 157)] + [b"zzz", b""]
    got = d.local_multi_get(keys)
    truth = dict(pairs)
    for i in range(0, 8000, 1000):
        truth[f"k{i:05d}".encode()] = b"NEW"
    for k in keys:
        assert got[k] == truth.get(k), k


def test_concurrent_probes_across_cache_clear(spark, tmp_path):
    """Concurrent readers while a version publish drops the handle cache:
    in-flight probes hold their own handle refs, so they finish correctly
    on whichever version they resolved."""
    import threading

    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "d")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS[:100], "key binary, value binary"),
        root,
        DomainSpec(num_shards=4),
        version=1,
    )
    dom = Domain(spark, root)
    dom.local_get(b"key0000")  # warm the cache
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                v = dom.local_get(b"key0001")
                assert v in (b"val1", b"VAL1"), v
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    for th in threads:
        th.start()
    update_domain(
        spark,
        spark.createDataFrame([(b"key0001", b"VAL1")], "key binary, value binary"),
        root,
        version=2,
    )
    stop.set()
    for th in threads:
        th.join()
    assert not errors, errors[:3]
    assert dom.local_get(b"key0001") == b"VAL1"


def test_rg_cache_equivalence_and_budget(spark, tmp_path):
    """Decoded-row-group serving cache (the BDB-JE node-cache analogue,
    JavaBerkDB.java:70-82): cached and uncached probes must agree
    byte-for-byte on hits, misses and NULL values; the cache must obey
    its byte budget with LRU eviction; serving_cache_bytes=0 must
    disable it entirely (groups decoded per probe, empty cache)."""
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "rgc")
    pairs = [
        (f"k{i:05d}".encode(), None if i % 97 == 0 else b"v" * (i % 50 + 1))
        for i in range(20000)
    ]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=2, persistence_opts={"parquet.block.size": 65536}),
        version=1,
    )
    truth = dict(pairs)
    keys = [f"k{i:05d}".encode() for i in range(0, 20000, 313)] + [
        b"k99999", b"", b"k00000"
    ]

    cached_dom = Domain(spark, root)
    assert cached_dom._rg_cache_budget > 0
    off_dom = Domain(spark, root)
    off_dom._rg_cache_budget = 0

    for _ in range(2):  # second pass = warm-cache fast path
        got_cached = cached_dom.local_multi_get(keys)
        got_off = off_dom.local_multi_get(keys)
        assert got_cached == got_off
        for k in keys:
            assert got_cached[k] == truth.get(k)
    assert cached_dom._rg_cache, "cache never populated"
    assert not off_dom._rg_cache, "budget 0 must disable caching"

    # budget respected under eviction: shrink to fit ~one group and sweep
    small = Domain(spark, root)
    small._rg_cache_budget = 256 * 1024
    got = small.local_multi_get(keys)
    assert got == {k: truth.get(k) for k in keys}
    assert small._rg_cache_nbytes <= small._rg_cache_budget
    assert sum(e[2] for e in small._rg_cache.values()) == small._rg_cache_nbytes

    # oversized groups (uncompressed > budget/4) are decoded, used, dropped
    tiny = Domain(spark, root)
    tiny._rg_cache_budget = 4  # budget//4 = 1 byte: nothing cacheable
    assert tiny.local_multi_get(keys) == {k: truth.get(k) for k in keys}
    assert not tiny._rg_cache


def test_rg_cache_spec_knob_and_version_invalidation(spark, tmp_path):
    """persistence_opts={"serving_cache_bytes": 0} flows from the spec to
    the handle; a published update must drop cached groups so stale
    values can never be served (hot-swap contract, A24)."""
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "rgv")
    build_domain(
        spark,
        spark.createDataFrame(
            [(b"a", b"old"), (b"b", b"keep")], "key binary, value binary"
        ),
        root,
        DomainSpec(num_shards=1, persistence_opts={"serving_cache_bytes": 0}),
        version=1,
    )
    d0 = Domain(spark, root)
    assert d0._rg_cache_budget == 0

    root2 = str(tmp_path / "rgv2")
    build_domain(
        spark,
        spark.createDataFrame(
            [(b"a", b"old"), (b"b", b"keep")], "key binary, value binary"
        ),
        root2,
        DomainSpec(num_shards=1),
        version=1,
    )
    d = Domain(spark, root2)
    assert d.local_get(b"a") == b"old"
    assert d._rg_cache  # v1 group cached
    update_domain(
        spark,
        spark.createDataFrame([(b"a", b"new")], "key binary, value binary"),
        root2,
        version=2,
    )
    assert d.local_get(b"a") == b"new"  # stale cache would serve b"old"
    assert d.local_get(b"b") == b"keep"
    assert d.local_get(b"a", version=1) == b"old"  # pinned read still exact


def test_fanout_equivalence_and_point_get_stays_serial(spark, tmp_path):
    """Cross-shard fanout (keyval/core.clj:118-134: multiGet probes every
    host group concurrently via do-pmap). The parallel dispatch must be
    byte-identical to the serial loop — hits, misses, empty key, duplicate
    keys — and a single-shard probe (the point-get shape) must never pay
    the pool hop (the pool is never even asked for)."""
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "fan")
    pairs = [(f"fk{i:04d}".encode(), f"fv{i}".encode()) for i in range(300)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8),
        version=1,
    )
    keys = (
        [k for k, _ in pairs[::7]]
        + [b"miss-a", b"miss-b", b""]
        + [pairs[0][0], pairs[0][0]]  # duplicates collapse to one entry
    )

    par = Domain(spark, root)
    par_pools = _spy_pool(par)
    got_par = par.local_multi_get(keys)
    assert par_pools and par_pools[0] is not None  # the batch fanned out

    ser = Domain(spark, root)
    ser._fanout_pool = lambda: None  # force the serial dispatch
    got_ser = ser.local_multi_get(keys)

    assert got_par == got_ser
    truth = dict(pairs)
    for k in keys:
        assert got_par[bytes(k)] == truth.get(bytes(k))

    # point-get shape: one shard -> caller thread, no pool
    fresh = Domain(spark, root)
    fresh_pools = _spy_pool(fresh)
    assert fresh.local_get(pairs[3][0]) == pairs[3][1]
    assert not fresh_pools


def test_fanout_pool_shared_across_caller_threads(spark, tmp_path):
    """External request threads must compose with ONE bounded pool (the
    serving daemon's request pool x fanout must not multiply threads), and
    a shut-down handle must stop using it."""
    import threading

    import elephantdb_spark.engine as eng_mod
    from elephantdb_spark.engine import SERVING_FANOUT_THREADS, Domain

    root = str(tmp_path / "fanpool")
    pairs = [(f"pk{i:04d}".encode(), f"pv{i}".encode()) for i in range(400)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8),
        version=1,
    )
    dom = Domain(spark, root)
    truth = dict(pairs)
    errors: list[BaseException] = []

    def worker(t):
        try:
            ks = [f"pk{(i * 11 + t) % 400:04d}".encode() for i in range(60)]
            for _ in range(3):
                res = dom.local_multi_get(ks + [f"gone{t}".encode()])
                for k in ks:
                    assert res[k] == truth[k]
                assert res[f"gone{t}".encode()] is None
        except BaseException as e:  # noqa: BLE001 - collected for the main thread
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors[:3]
    assert dom._probe_callers == 0  # gate counter balanced after the storm

    # a lone multi-shard probe fans out onto the process pool (creating
    # it if the storm never found a solitary window)
    pools = _spy_pool(dom)
    lone = list(truth)[:50]
    dom.local_multi_get(lone)
    assert pools == [eng_mod._FANOUT_POOL]
    assert len(eng_mod._FANOUT_POOL._threads) <= SERVING_FANOUT_THREADS
    dom.shutdown()
    pools.clear()
    assert dom.local_multi_get(lone) == {k: truth[k] for k in lone}
    assert pools == [None]  # shut down -> serial
    assert not eng_mod._FANOUT_POOL._shutdown


def test_fanout_admission_gate_concurrent_callers_stay_serial(spark, tmp_path):
    """Fanout is a lone-caller latency tool: while another probe is in
    flight on the handle, a batch must probe on its own thread (measured
    1.5-2.5x slower fanned under caller concurrency). Hold the gate
    closed from a second thread and check the blocked caller never
    touches the pool."""
    import threading

    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "gate")
    pairs = [(f"gk{i:04d}".encode(), f"gv{i}".encode()) for i in range(200)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8),
        version=1,
    )
    dom = Domain(spark, root)
    pools = _spy_pool(dom)
    keys = [k for k, _ in pairs[:80]]

    # simulate an in-flight probe: bump the caller count like a paused
    # concurrent request thread would
    with dom._fanout_count_lock:
        dom._probe_callers += 1
    try:
        got = dom.local_multi_get(keys)
        assert not pools  # gated -> serial, pool never asked for
    finally:
        with dom._fanout_count_lock:
            dom._probe_callers -= 1
    assert got == {k: v for k, v in pairs[:80]}
    assert dom._probe_callers == 0

    # gate released -> the same batch fans out
    dom.local_multi_get(keys)
    assert pools and pools[0] is not None


def test_serving_stack_stress_under_hotswap(spark, tmp_path):
    """The full r8 serving stack at once — decoded-group cache, lone-caller
    fanout gate, bloom sidecars, version hot-swaps — under 6 concurrent
    reader threads while the main thread publishes 3 updates. Every read
    must be version-consistent: stable keys exact, the updated key equal to
    SOME published value (in-flight probes may resolve either side of a
    swap), misses always None; afterwards the gate counter is balanced,
    the pool is bounded, and a final read serves the newest version."""
    import threading

    import elephantdb_spark.engine as eng_mod
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import SERVING_FANOUT_THREADS, Domain

    root = str(tmp_path / "stress")
    pairs = [(f"s{i:04d}".encode(), f"w{i}".encode()) for i in range(300)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8, persistence_opts={"bloom_fpp": 0.01}),
        version=1,
    )
    dom = Domain(spark, root)
    truth = dict(pairs)
    hot = b"s0000"
    valid_hot = {truth[hot], b"u1", b"u2", b"u3"}
    stop = threading.Event()
    errors: list[BaseException] = []

    def reader(t):
        try:
            ks = [f"s{(i * 13 + t) % 300:04d}".encode() for i in range(40)]
            ks += [hot, f"absent-{t}".encode(), b""]
            while not stop.is_set():
                res = dom.local_multi_get(ks)
                for k in ks:
                    if k == hot:
                        assert res[k] in valid_hot, (k, res[k])
                    elif k in truth:
                        assert res[k] == truth[k], (k, res[k])
                    else:
                        assert res[k] is None, (k, res[k])
        except BaseException as e:  # noqa: BLE001 - collected for the main thread
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(t,)) for t in range(6)]
    for th in threads:
        th.start()
    try:
        for v, val in ((2, b"u1"), (3, b"u2"), (4, b"u3")):
            update_domain(
                spark,
                spark.createDataFrame([(hot, val)], "key binary, value binary"),
                root,
                version=v,
            )
    finally:
        stop.set()
        for th in threads:
            th.join()
    assert not errors, errors[:3]
    assert dom._probe_callers == 0
    if eng_mod._FANOUT_POOL is not None:
        assert len(eng_mod._FANOUT_POOL._threads) <= SERVING_FANOUT_THREADS
    assert dom.local_multi_get([hot])[hot] == b"u3"
    assert dom.local_multi_get([hot], version=1)[hot] == truth[hot]


def test_fanout_pool_process_shared_across_domains(spark, tmp_path):
    """Domains share ONE process pool (the reference serves every domain
    from one server pool, common/thrift.clj:111-118) and shutdown() must
    not kill it for other domains."""
    import elephantdb_spark.engine as eng_mod
    from elephantdb_spark.engine import Domain

    pairs = [(f"d{i:03d}".encode(), f"e{i}".encode()) for i in range(120)]
    roots = []
    for i in range(2):
        root = str(tmp_path / f"share{i}")
        build_domain(
            spark,
            spark.createDataFrame(pairs, "key binary, value binary"),
            root,
            DomainSpec(num_shards=4),
            version=1,
        )
        roots.append(root)
    keys = [k for k, _ in pairs[:60]]

    d0, d1 = (Domain(spark, r) for r in roots)
    pools0, pools1 = _spy_pool(d0), _spy_pool(d1)
    for d in (d0, d1):
        assert d.local_multi_get(keys) == dict(pairs[:60])
    assert pools0 == pools1 == [eng_mod._FANOUT_POOL]

    d0.shutdown()
    assert d0._fanout_pool() is None
    # the shared pool survives for the other domain
    assert not eng_mod._FANOUT_POOL._shutdown
    assert d1.local_multi_get(keys[:10]) == dict(pairs[:10])


def test_fanout_review_fixes(spark, tmp_path):
    """Round-8 review regressions: (1) single-shard probes never enter the
    admission count (a point-get trickle must not starve scatter batches
    of fanout); (2) a probe handed a pool that refuses work falls back to
    the caller thread and still answers exactly."""
    from concurrent.futures import ThreadPoolExecutor

    from elephantdb_spark.engine import Domain

    pairs = [(f"r{i:03d}".encode(), f"x{i}".encode()) for i in range(200)]

    # (1) single-shard domain: probes take the early serial branch
    root1 = str(tmp_path / "one")
    build_domain(
        spark, spark.createDataFrame(pairs, "key binary, value binary"),
        root1, DomainSpec(num_shards=1), version=1,
    )
    d1 = Domain(spark, root1)
    pools1 = _spy_pool(d1)
    assert d1.local_multi_get([k for k, _ in pairs[:50]]) == dict(pairs[:50])
    assert d1._probe_callers == 0 and not pools1

    # (2) a shut-down pool under the handle: the probe must complete
    # serially with exact results (RuntimeError fallback)
    root8 = str(tmp_path / "eight")
    build_domain(
        spark, spark.createDataFrame(pairs, "key binary, value binary"),
        root8, DomainSpec(num_shards=8), version=1,
    )
    d8 = Domain(spark, root8)
    keys = [k for k, _ in pairs[:80]]
    dead = ThreadPoolExecutor(max_workers=1)
    dead.shutdown(wait=False)
    d8._fanout_pool = lambda: dead
    assert d8.local_multi_get(keys) == dict(pairs[:80])
    assert d8._probe_callers == 0
    # and a fully shut-down handle is never handed a pool
    del d8._fanout_pool
    d8.shutdown()
    assert d8._fanout_pool() is None
