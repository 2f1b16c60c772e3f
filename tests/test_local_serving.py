"""Local serving-path tests: pyarrow point probes must agree byte-for-byte
with the Spark read path (the reference's serving read is exactly this — a
local persistence probe, JavaBerkDB.java:70-82, never a cluster job)."""

from __future__ import annotations

import os

import pytest

from elephantdb_spark import DomainSpec, build_domain

PAIRS = [(f"key{i:04d}".encode(), f"val{i}".encode()) for i in range(500)]


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
    local copies must survive concurrent callers. 8 threads hammer
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
    """VERDICT r6 item 3: the open-reader LRU evicts per entry, not
    wholesale — a hot reader re-touched between cold opens must survive a
    sweep larger than the capacity (the old clear() dropped it the moment
    the 512th cold file arrived), and capacity holds."""
    import glob
    import os

    import elephantdb_spark.engine as eng

    files = sorted(
        glob.glob(os.path.join(dom.store.version_path(1), "shard=*", "*.parquet"))
    )
    assert len(files) >= 6
    hot = files[0]
    monkeypatch.setattr(eng, "SERVING_CACHE_CAP", 3)
    st = dict.fromkeys(eng.SERVING_STATS, 0)
    dom = eng.Domain(dom.spark, dom.root)  # no reader open yet
    served = dom._serving()

    def touch(path):
        copy = dom._local_copy(path, st, served)
        dom._read_batches(copy, [0], served)
        return copy

    hot_copy = touch(hot)
    hot_reader = hot_copy.reader
    for cold in files[1:6]:
        assert touch(hot) is hot_copy  # re-touch: hot
        touch(cold)
    assert hot_copy.reader is hot_reader  # never closed
    assert len(served.readers) <= 3
    assert hot in served.readers
    open_readers = [c for c in served.copies.values() if c.reader is not None]
    assert len(open_readers) <= 3  # evicted readers were closed


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


def test_serving_stack_stress_under_hotswap(spark, tmp_path):
    """The full serving stack at once — local copies, bloom sidecars,
    version hot-swaps — under 6 concurrent reader threads while the main
    thread publishes 3 updates. Every read must be version-consistent:
    stable keys exact, the updated key equal to SOME published value
    (in-flight probes may resolve either side of a swap), misses always
    None; afterwards a final read serves the newest version."""
    import threading

    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

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
    assert dom.local_multi_get([hot])[hot] == b"u3"
    assert dom.local_multi_get([hot], version=1)[hot] == truth[hot]


def test_convert_shard_file_batches_bounds_and_content(tmp_path, monkeypatch):
    """The local-copy converter, without Spark: a multi-group parquet file
    with NULL values becomes ≤LOCAL_BATCH_ROWS-row batches whose exact key
    bounds are ordered and whose rows equal the source's, read one row
    group at a time (never the whole file), with each batch's read-back
    ``nbytes`` and one schema whatever the writer's nullability and
    metadata; an empty file becomes a batchless copy; a failed conversion
    leaves no file behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elephantdb_spark.engine import LOCAL_BATCH_ROWS, convert_shard_file

    n = 3000
    keys = [f"k{i:05d}".encode() for i in range(n)]
    vals = [None if i % 11 == 0 else b"v" * (i % 40) for i in range(n)]
    src = str(tmp_path / "multi.parquet")
    written = pa.schema(
        [pa.field("key", pa.binary(), nullable=False), ("value", pa.binary())],
        metadata={"writer": "spark"},
    )
    pq.write_table(
        pa.table({"key": pa.array(keys, pa.binary()),
                  "value": pa.array(vals, pa.binary())}, schema=written),
        src, row_group_size=700,
    )
    n_groups = pq.ParquetFile(src).num_row_groups
    assert n_groups == 5

    groups_read = []
    real = pq.ParquetFile.read_row_group

    def one_group(self, i, *a, **kw):
        groups_read.append(i)
        return real(self, i, *a, **kw)

    def whole_file(self, *a, **kw):
        raise AssertionError("the converter read more than one row group")

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", one_group)
    for name in ("read", "read_row_groups", "iter_batches"):
        monkeypatch.setattr(pq.ParquetFile, name, whole_file)
    dst = str(tmp_path / "multi.arrow")
    mins, maxs, sizes = convert_shard_file(src, dst)
    assert groups_read == list(range(n_groups))

    reader = pa.ipc.open_file(pa.OSFile(dst))
    assert reader.schema == pa.schema([("key", pa.binary()), ("value", pa.binary())])
    assert not reader.schema.metadata
    batches = [reader.get_batch(j) for j in range(reader.num_record_batches)]
    assert len(batches) == len(mins) == len(maxs)
    assert sizes == [b.nbytes for b in batches]  # what bytes_read counts
    assert all(0 < b.num_rows <= LOCAL_BATCH_ROWS for b in batches)
    for b, lo, hi in zip(batches, mins, maxs):
        col = b.column(0).to_pylist()
        assert (lo, hi) == (min(col), max(col))
    assert all(lo <= hi for lo, hi in zip(mins, maxs))
    assert all(hi < lo for hi, lo in zip(maxs, mins[1:]))
    assert [k for b in batches for k in b.column(0).to_pylist()] == keys
    assert [v for b in batches for v in b.column(1).to_pylist()] == vals
    assert not any(b.column(0).buffers()[0] for b in batches)  # no NULL keys

    empty = str(tmp_path / "empty.parquet")
    pq.write_table(
        pa.table({"key": pa.array([], pa.binary()),
                  "value": pa.array([], pa.binary())}),
        empty,
    )
    edst = str(tmp_path / "empty.arrow")
    assert convert_shard_file(empty, edst) == ([], [], [])
    assert pa.ipc.open_file(pa.OSFile(edst)).num_record_batches == 0

    monkeypatch.setattr(
        pq.ParquetFile, "read_row_group",
        lambda self, i, *a, **kw: (_ for _ in ()).throw(OSError("disk gone")),
    )
    with pytest.raises(OSError, match="disk gone"):
        convert_shard_file(src, str(tmp_path / "failed.arrow"))
    assert not [f for f in os.listdir(tmp_path) if f.startswith("failed")]


def test_local_path_equals_spark_multi_get(spark, tmp_path):
    """The local path answers exactly as the Spark multi_get on shards of
    several files each: hits (NULL values included), in-range and
    out-of-range misses, the empty key, duplicate keys, and a pinned
    older version after an update."""
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "multi")
    pairs = [
        (f"m{i:05d}".encode(), None if i % 13 == 0 else f"w{i}".encode() * 3)
        for i in range(3000)
    ]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=3, persistence_opts={
            "maxRecordsPerFile": 400, "bloom_fpp": 0.01,
        }),
        version=1,
    )
    update_domain(
        spark,
        spark.createDataFrame(
            [(f"m{i:05d}".encode(), b"NEW") for i in range(0, 3000, 250)]
            + [(b"m99999", b"ADDED")],
            "key binary, value binary",
        ),
        root,
        version=2,
    )
    dom = Domain(spark, root)
    assert dom.layout_report()["max_files_per_shard"] > 1
    keys = (
        [k for k, _ in pairs[::37]]
        + [k for k, _ in pairs[::13]][:20]  # NULL values
        + [f"m{i:05d}x".encode() for i in range(0, 3000, 300)]  # in range
        + [b"a-before-all", b"zzz", b"", b"m99999"]
        + [pairs[1][0], pairs[1][0], pairs[250][0]]  # duplicates
    )
    for version in (None, 1):
        got = dom.local_multi_get(keys, version=version)
        assert got == dom.multi_get(keys, version=version)
        assert set(got) == set(keys)
    assert dom.local_get(pairs[250][0]) == b"NEW"
    assert dom.local_get(pairs[250][0], version=1) == pairs[250][1]
    assert dom.local_get(pairs[13][0]) is None  # a NULL value
    assert dom.local_get(b"m99999", version=1) is None


def _local_files(dom) -> set[str]:
    return set(os.listdir(dom._local_dir)) if dom._local_dir else set()


def _copy_files(dom) -> set[str]:
    return {
        os.path.basename(c.path) for c in dom._served.copies.values() if c.path
    }


def test_local_copies_dropped_on_swap_cleanup_and_shutdown(spark, tmp_path):
    """Local copies never outlive the published version set they were
    made under: after a hot swap only the copies the handle has made
    since remain on disk, cleanup_versions(1) drops them all, and
    shutdown() removes the directory. A reader probing concurrently
    across the swap answers every call correctly. A conversion error
    propagates, leaves no file, and the next probe converts again."""
    import tempfile
    import threading

    import elephantdb_spark.engine as eng
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "swap")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS, "key binary, value binary"),
        root,
        DomainSpec(num_shards=4),
        version=1,
    )
    dom = Domain(spark, root)
    keys = [k for k, _ in PAIRS[::9]] + [b"absent"]
    truth = dict(PAIRS)
    assert dom.local_multi_get(keys) == {k: truth.get(k) for k in keys}
    local_dir = dom._local_dir
    assert os.path.dirname(local_dir) == tempfile.gettempdir()
    assert os.path.basename(local_dir).startswith("edb-serve-")
    v1_files = _local_files(dom)
    assert v1_files and v1_files == _copy_files(dom)
    assert dom.serving_stats()["local_bytes"] == sum(
        os.path.getsize(os.path.join(local_dir, f)) for f in v1_files
    )

    stop = threading.Event()
    errors: list[BaseException] = []

    def reader():
        try:
            while not stop.is_set():
                got = dom.local_multi_get(keys)
                assert got[b"key0000"] in (b"val0", b"NEW0"), got[b"key0000"]
                assert all(got[k] == truth.get(k) for k in keys[1:])
        except BaseException as e:  # noqa: BLE001 - collected for the main thread
            errors.append(e)

    th = threading.Thread(target=reader)
    th.start()
    try:
        update_domain(
            spark,
            spark.createDataFrame([(b"key0000", b"NEW0")], "key binary, value binary"),
            root,
            version=2,
        )
        assert dom.local_get(b"key0000") == b"NEW0"
    finally:
        stop.set()
        th.join()
    assert not errors, errors[:3]
    assert dom.local_multi_get(keys)[b"key0000"] == b"NEW0"
    assert _local_files(dom) == _copy_files(dom)
    assert not _local_files(dom) & v1_files

    dom.local_get(b"key0001", version=1)  # a copy of a v1 file again
    dom.cleanup_versions(1)
    assert dom.versions() == [2]
    assert _local_files(dom) == set() and dom.serving_stats()["local_bytes"] == 0

    def failing(src, dst):
        raise OSError("disk full")

    real = eng.convert_shard_file
    eng.convert_shard_file = failing
    try:
        with pytest.raises(OSError, match="disk full"):
            dom.local_multi_get(keys)
    finally:
        eng.convert_shard_file = real
    assert _local_files(dom) == set() and dom.serving_stats()["local_bytes"] == 0
    got = dom.local_multi_get(keys)
    assert got == {**{k: truth.get(k) for k in keys}, b"key0000": b"NEW0"}

    dom.shutdown()
    assert not os.path.exists(local_dir)
    assert dom._local_dir is None and dom.serving_stats()["local_bytes"] == 0


def test_serving_cache_bytes_deprecated(spark, tmp_path):
    """serving_cache_bytes is accepted and ignored, on a new spec and on
    one persisted before the change (values the old check rejected
    included), with one DeprecationWarning per handle."""
    import warnings

    from elephantdb_spark.engine import Domain

    kv = spark.createDataFrame([(b"a", b"1")], "key binary, value binary")
    new_root = str(tmp_path / "new")
    build_domain(
        spark, kv, new_root,
        DomainSpec(num_shards=1, persistence_opts={"serving_cache_bytes": 0}),
        version=1,
    )
    legacy_root = str(tmp_path / "legacy")
    DomainSpec(num_shards=1,
               persistence_opts={"serving_cache_bytes": "8MiB"}).write(legacy_root)
    build_domain(spark, kv, legacy_root, version=1)
    for root in (new_root, legacy_root):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            dom = Domain(spark, root)
            assert dom.local_get(b"a") == b"1"
            assert dom.local_multi_get([b"a", b"b"]) == {b"a": b"1", b"b": None}
        deprecations = [
            w for w in caught if issubclass(w.category, DeprecationWarning)
        ]
        assert len(deprecations) == 1
        assert "serving_cache_bytes" in str(deprecations[0].message)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        Domain(spark, new_root)  # each handle warns once
        plain = str(tmp_path / "plain")
        build_domain(spark, kv, plain, DomainSpec(num_shards=1), version=1)
        Domain(spark, plain).local_get(b"a")
    assert sum("serving_cache_bytes" in str(w.message) for w in caught) == 1


def test_serving_counters_exact_under_8_threads(spark, tmp_path, monkeypatch):
    """Eight threads with a short switch interval run the same calls a
    single thread runs on another handle: every answer is exact, every
    file converts exactly once, and every counter sums to the serial
    figure (a lost update under the stats lock would break the totals).
    Which keys the row cache answers depends on call order, so the
    counters are compared whole with the cache sized to nothing; with
    it, each handle's ``row_hits`` plus the keys it routed to a shard
    is every distinct key asked."""
    import random
    import sys
    import threading

    import elephantdb_spark.engine as eng
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "count")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8, persistence_opts={
            "bloom_fpp": 0.01, "maxRecordsPerFile": 40,
        }),
        version=1,
    )
    truth = dict(PAIRS)
    rng = random.Random(7)
    n_threads, per_thread = 8, 25
    calls = [
        [rng.choice(PAIRS)[0] for _ in range(30)]
        + [f"key{rng.randrange(500):04d}x".encode() for _ in range(10)]
        for _ in range(n_threads * per_thread)
    ]
    keys_asked = sum(len(set(ks)) for ks in calls)

    def counted_handle() -> tuple[Domain, list]:
        # a handle and the keys it routes to a shard, i.e. probes
        dom = Domain(spark, root)
        routed: list[bytes] = []
        route = dom._scheme.shard_index
        dom._scheme.shard_index = lambda k, n: routed.append(k) or route(k, n)
        return dom, routed

    def run_threaded(dom) -> None:
        errors: list[BaseException] = []

        def worker(t):
            try:
                for ks in calls[t::n_threads]:
                    assert dom.local_multi_get(ks) == {k: truth.get(k) for k in ks}
            except BaseException as e:  # noqa: BLE001 - collected for the main thread
                errors.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [
                threading.Thread(target=worker, args=(t,)) for t in range(n_threads)
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(th.is_alive() for th in threads)
        assert not errors, errors[:3]

    for budget in (0, eng.ROW_CACHE_BYTES):
        monkeypatch.setattr(eng, "ROW_CACHE_BYTES", budget)
        serial, serial_routed = counted_handle()
        for ks in calls:
            assert serial.local_multi_get(ks) == {k: truth.get(k) for k in ks}
        expect = serial.serving_stats()
        n_files = sum(
            len(serial._shard_file_list(
                os.path.join(root, "1", f"shard={s}"), serial._serving()))
            for s in range(8)
        )
        assert expect["files_converted"] == n_files
        assert expect["row_hits"] + len(serial_routed) == keys_asked

        dom, routed = counted_handle()
        run_threaded(dom)
        got = dom.serving_stats()
        assert got["row_hits"] + len(routed) == keys_asked
        if budget == 0:
            assert got == expect and expect["row_hits"] == 0
            assert expect["bloom_tests"] > expect["bloom_rejects"] > 0
            assert expect["batches_read"] > 0
        else:
            assert got["files_converted"] == expect["files_converted"]
            assert expect["row_hits"] > 0 and got["row_hits"] > 0


RUN_KEY = b"q01000~run"  # sorts inside the q-key range


@pytest.fixture(scope="module")
def fragmented(spark, tmp_path_factory):
    """A domain of several files per shard after a build and two updates:
    NULL values, and one key written 600 times (``dedup="none"``, one
    value), so its run fills whole files and crosses 128-row batch
    boundaries inside them."""
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path_factory.mktemp("frag") / "d")
    pairs = [
        (f"q{i:05d}".encode(), None if i % 11 == 0 else f"v{i}".encode())
        for i in range(2000)
    ] + [(RUN_KEY, b"run-value")] * 600
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=4, persistence_opts={
            "maxRecordsPerFile": 250, "bloom_fpp": 0.01,
        }),
        version=1,
        dedup="none",
    )
    for version, step in ((2, 7), (3, 13)):
        update_domain(
            spark,
            spark.createDataFrame(
                [(f"q{i:05d}".encode(), f"u{version}-{i}".encode())
                 for i in range(0, 2000, step)]
                + [(f"n{version}-{i}".encode(), None) for i in range(50)],
                "key binary, value binary",
            ),
            root,
            version=version,
        )
    return Domain(spark, root)


def test_one_pass_probe_equals_to_map(fragmented):
    """Every answer of the one-pass probe equals the scan's: across files
    of several generations per shard, NULL values, a key present in
    several files and a run of one key across batch boundaries, with
    in-range and out-of-range misses and duplicate keys in one call."""
    import random

    dom = fragmented
    truth = dom.to_map()
    assert dom.layout_report()["max_files_per_shard"] > 1
    assert truth[RUN_KEY] == b"run-value"
    assert any(v is None for v in truth.values())
    misses = [k + b"x" for k in list(truth)[::50]] + [b"", b"a", b"zzz"]
    got = dom.local_multi_get(list(truth) + misses)
    assert got == {**truth, **dict.fromkeys(misses)}
    # the run: in several files, and across a batch boundary in one
    copies = [c for c in dom._served.copies.values() if RUN_KEY in c.mins + c.maxs]
    assert len(copies) > 1
    assert any(
        hi == lo == RUN_KEY
        for c in copies for hi, lo in zip(c.maxs, c.mins[1:])
    )
    rng = random.Random(11)
    keys = list(truth) + misses
    for _ in range(30):
        ks = [rng.choice(keys) for _ in range(rng.randrange(1, 120))]
        assert dom.local_multi_get(ks) == {k: truth.get(k) for k in ks}


def test_one_pass_probe_one_gather_one_is_in(fragmented, monkeypatch):
    """A call over many shards and files consults the Bloom bank once
    and runs one ``pc.is_in``, whatever the number of files."""
    import pyarrow.compute as pc

    from elephantdb_spark.bloom import BloomBank
    from elephantdb_spark.engine import Domain
    from elephantdb_spark.sharding import shard_index

    dom = Domain(fragmented.spark, fragmented.root)
    keys = [f"q{i:05d}".encode() for i in range(0, 2000, 9)] + [b"q00003x"]
    # convert first, with other keys, so that no key of the call is cached
    dom.local_multi_get([f"q{i:05d}".encode() for i in range(1, 2000, 9)])
    shards = {shard_index(k, 4) for k in keys}
    files = sum(
        len(dom._shard_file_list(os.path.join(
            dom.store.version_path(dom.current_version()), f"shard={s}"),
            dom._serving()))
        for s in shards
    )
    assert len(shards) == 4 and files > len(shards)
    seen = {"contains": 0, "is_in": 0}
    real_contains, real_is_in = BloomBank.contains, pc.is_in

    def contains(self, *a):
        seen["contains"] += 1
        return real_contains(self, *a)

    def is_in(*a, **kw):
        seen["is_in"] += 1
        return real_is_in(*a, **kw)

    monkeypatch.setattr(BloomBank, "contains", contains)
    monkeypatch.setattr(pc, "is_in", is_in)
    before = dom.serving_stats()
    truth = dom.to_map()
    assert dom.local_multi_get(keys) == {k: truth.get(k) for k in keys}
    after = dom.serving_stats()
    assert seen == {"contains": 1, "is_in": 1}
    assert after["row_hits"] == before["row_hits"]
    assert after["bloom_tests"] - before["bloom_tests"] >= files
    assert after["batches_read"] > before["batches_read"]
    assert after["bytes_read"] > before["bytes_read"]


def test_one_pass_probe_later_file_then_first_row_wins(spark, tmp_path):
    """Within one call a shard's later file overrides an earlier one and,
    within a file, the first row of a key wins, also when its run
    crosses a batch boundary — the order the per-file loop had. The
    later file here has no Bloom sidecar while the earlier one has, so
    one call mixes tested and untested pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elephantdb_spark.engine import Domain
    from elephantdb_spark.sharding import shard_index

    root = str(tmp_path / "order")
    pairs = [(f"o{i:03d}".encode(), f"old{i}".encode()) for i in range(200)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=2, persistence_opts={"bloom_fpp": 0.01}),
        version=1,
    )
    over, dup = b"o007", b"o007~dup"
    sdir = os.path.join(root, "1", f"shard={shard_index(over, 2)}")
    assert shard_index(dup, 2) == shard_index(over, 2)
    earlier = sorted(f for f in os.listdir(sdir) if f.endswith(".parquet"))
    later = "part-99999-later.parquet"
    assert later > earlier[-1]
    # the run of dup crosses the 128-row batch boundary: its first row
    # sits in batch 0, the bisect lands in batch 1
    pq.write_table(
        pa.table({"key": [over] + [dup] * 200,
                  "value": [b"new", b"first"] + [b"rest"] * 199}),
        os.path.join(sdir, later),
    )
    dom = Domain(spark, root)
    keys = [over, dup, b"o008", b"o199", b"o100x"]
    assert dom.local_multi_get(keys) == {
        over: b"new", dup: b"first", b"o008": b"old8", b"o199": b"old199",
        b"o100x": None,
    }
    copies = {os.path.basename(c.src): c for c in dom._served.copies.values()}
    assert copies[later].bloom is None
    assert all(copies[f].bloom is not None for f in earlier)


def test_one_pass_probe_answers_from_the_routed_shard_only(spark, tmp_path, monkeypatch):
    """A key is looked up only in the files of the shard its scheme routes
    it to, as the per-file loop did, so its answer does not depend on the
    other keys of the call: its row in another shard's batch, read there
    for a key routed to that shard, is no answer. (A fixed-assignment
    domain routes this way once its map changes.)"""
    from elephantdb_spark.testing import FixedAssignmentScheme, build_presharded_domain

    dom = build_presharded_domain(
        spark, str(tmp_path / "routed"), {0: [(b"a", b"va"), (b"b", b"vb")]},
        num_shards=2,
    )
    monkeypatch.setattr(FixedAssignmentScheme, "_assignments", {b"a": 0, b"b": 1})
    assert dom.local_multi_get([b"b"]) == {b"b": None}
    assert dom.local_multi_get([b"a", b"b"]) == {b"a": b"va", b"b": None}
    assert dom.serving_stats()["batches_read"] == 1


def test_call_spanning_a_swap_runs_on_one_snapshot(spark, tmp_path, monkeypatch):
    """A call reads the handle's serving snapshot once: when its first
    conversion publishes version 2 and runs a nested call, the outer call
    still tests its pairs with one Bloom gather against one bank, answers
    from version 1, and none of its copies lands in the new snapshot."""
    import elephantdb_spark.engine as eng
    from elephantdb_spark import update_domain
    from elephantdb_spark.bloom import BloomBank

    root = str(tmp_path / "span")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS, "key binary, value binary"),
        root,
        DomainSpec(num_shards=4, persistence_opts={"bloom_fpp": 0.01}),
        version=1,
    )
    dom = eng.Domain(spark, root)
    truth = dict(PAIRS)
    keys = [k for k, _ in PAIRS[::7]] + [b"absent"]
    updated = {k: b"NEW" for k in keys[:20]}
    state = {"outer": None, "nested": False}
    outer_banks = []
    real_convert, real_contains = eng.convert_shard_file, BloomBank.contains

    def contains(self, *a):
        if not state["nested"]:
            outer_banks.append(self)
        return real_contains(self, *a)

    def convert(src, dst):
        if state["outer"] is None:
            state["outer"] = dom._served
            update_domain(
                spark,
                spark.createDataFrame(list(updated.items()), "key binary, value binary"),
                root,
                version=2,
            )
            state["nested"] = True
            try:
                assert dom.local_multi_get(keys) == {
                    k: updated.get(k, truth.get(k)) for k in keys
                }
            finally:
                state["nested"] = False
        return real_convert(src, dst)

    monkeypatch.setattr(eng, "convert_shard_file", convert)
    monkeypatch.setattr(BloomBank, "contains", contains)
    assert dom.local_multi_get(keys) == {k: truth.get(k) for k in keys}
    outer, now = state["outer"], dom._served
    assert outer.versions == (1,) and now.versions == (2, 1)
    assert len(outer_banks) == 1 and outer_banks[0] is outer.bank
    v1 = dom.store.version_path(1) + os.sep
    assert len(outer.copies) > 1
    assert all(c.src.startswith(v1) for c in outer.copies.values())
    assert not {id(c) for c in outer.copies.values()} & {
        id(c) for c in now.copies.values()
    }


def test_shard_dir_listed_once_per_version_set(spark, tmp_path, monkeypatch):
    """A snapshot lists each shard dir once, whatever the number of
    calls; after a swap the new snapshot lists the dirs it reads once
    more, a pinned older version's included."""
    from collections import Counter

    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "listing")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS, "key binary, value binary"),
        root,
        DomainSpec(num_shards=4),
        version=1,
    )
    dom = Domain(spark, root)
    keys = [k for k, _ in PAIRS[::5]]
    listed: Counter = Counter()
    real = os.listdir

    def listdir(path="."):
        if os.path.basename(str(path)).startswith("shard="):
            listed[str(path)] += 1
        return real(path)

    monkeypatch.setattr(os, "listdir", listdir)

    def shard_dirs(v):
        return {
            os.path.join(dom.store.version_path(v), f"shard={s}") for s in range(4)
        }

    for _ in range(3):
        dom.local_multi_get(keys)
    assert listed == Counter(dict.fromkeys(shard_dirs(1), 1))
    update_domain(
        spark,
        spark.createDataFrame([(PAIRS[0][0], b"NEW")], "key binary, value binary"),
        root,
        version=2,
    )
    listed.clear()
    for _ in range(3):
        assert dom.local_multi_get(keys)[PAIRS[0][0]] == b"NEW"
        dom.local_multi_get(keys, version=1)
    assert listed == Counter(dict.fromkeys(shard_dirs(1) | shard_dirs(2), 1))


def _stats_delta(dom, call) -> dict[str, int]:
    before = dom.serving_stats()
    call()
    after = dom.serving_stats()
    return {name: after[name] - before[name] for name in after}


def test_row_cache_answers_a_repeated_key_without_a_batch(fragmented):
    """A key's second call answers from the snapshot's row cache: no
    batch read, one row hit. A NULL-valued row is cached too, and
    answers None from the cache."""
    from elephantdb_spark.engine import Domain

    dom = Domain(fragmented.spark, fragmented.root)
    truth = fragmented.to_map()
    null_key = next(k for k, v in truth.items() if v is None)
    hit_key = next(k for k, v in truth.items() if v is not None)
    for key in (hit_key, null_key):
        first = _stats_delta(dom, lambda: dom.local_get(key))
        assert first["batches_read"] >= 1 and first["row_hits"] == 0
        assert dom.local_get(key) == truth[key]  # the second call
    again = _stats_delta(
        dom, lambda: dom.local_multi_get([hit_key, null_key, hit_key])
    )
    assert again["batches_read"] == again["bloom_tests"] == 0
    assert again["row_hits"] == 2
    assert dom.local_multi_get([null_key]) == {null_key: None}
    # a miss is not cached: it is probed on every call
    miss = _stats_delta(dom, lambda: dom.local_multi_get([b"q00003x"] * 2))
    assert miss["row_hits"] == 0
    assert _stats_delta(dom, lambda: dom.local_get(b"q00003x"))["row_hits"] == 0
    assert dom.serving_stats()["row_bytes"] > 0


def test_row_cache_goes_with_its_snapshot(spark, tmp_path):
    """A hot swap replaces the snapshot, and its row cache with it: a
    cached key answers the new version's value. A read of the older
    version by ``version=`` answers that version, and neither reads nor
    fills the cache."""
    from elephantdb_spark import update_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "rowswap")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS, "key binary, value binary"),
        root,
        DomainSpec(num_shards=4),
        version=1,
    )
    dom = Domain(spark, root)
    key, other = PAIRS[3][0], PAIRS[4][0]
    assert dom.local_multi_get([key, other]) == {key: b"val3", other: b"val4"}
    assert _stats_delta(dom, lambda: dom.local_get(key))["row_hits"] == 1
    update_domain(
        spark,
        spark.createDataFrame([(key, b"NEW3")], "key binary, value binary"),
        root,
        version=2,
    )
    swapped = _stats_delta(dom, lambda: dom.local_get(key))
    assert dom.local_get(key) == b"NEW3"
    assert swapped["row_hits"] == 0 and swapped["batches_read"] >= 1
    assert dom._served.versions == (2, 1)
    for _ in range(2):
        old = _stats_delta(
            dom, lambda: dom.local_multi_get([key, other], version=1)
        )
        assert old["row_hits"] == 0 and old["batches_read"] >= 1
    assert dom.local_multi_get([key, other], version=1) == {
        key: b"val3", other: b"val4",
    }
    assert set(dom._served.rows) == {key}
    assert dom.local_multi_get([key, other], version=2) == {
        key: b"NEW3", other: b"val4",
    }
    assert set(dom._served.rows) == {key, other}


def test_row_cache_is_a_byte_bounded_lru(fragmented, monkeypatch):
    """A sweep of many distinct keys keeps the row cache within its
    budget, evicting the least recently used rows, and a key re-read
    throughout the sweep survives it. An entry is charged at least the
    bytes its key, value and ``OrderedDict`` slot take."""
    import tracemalloc
    from collections import OrderedDict

    import elephantdb_spark.engine as eng

    truth = fragmented.to_map()
    hot, *cold = [k for k in truth if k.startswith(b"q")]
    budget = 40 * eng._row_size(hot, truth[hot])
    monkeypatch.setattr(eng, "ROW_CACHE_BYTES", budget)
    dom = eng.Domain(fragmented.spark, fragmented.root)
    dom.local_get(hot)
    hot_hits = 0
    for i in range(0, 600, 10):
        ks = cold[i:i + 10]
        assert dom.local_multi_get(ks) == {k: truth[k] for k in ks}
        hit = _stats_delta(dom, lambda: dom.local_get(hot))
        hot_hits += hit["row_hits"]
        assert hit["batches_read"] == 0
        served = dom._served
        assert 0 < dom.serving_stats()["row_bytes"] <= budget
        assert served.row_bytes == sum(
            eng._row_size(k, v) for k, v in served.rows.items()
        )
    assert hot_hits == 60
    assert hot in served.rows and cold[0] not in served.rows
    assert len(served.rows) < 60
    # the charge covers what an entry really takes
    rows = [(k, truth[k]) for k in cold[:3000]]
    tracemalloc.start()
    try:
        cache = OrderedDict()
        for k, v in rows:  # fresh copies, so that tracemalloc sees them
            cache[bytes(bytearray(k))] = v and bytes(bytearray(v))
        traced = tracemalloc.get_traced_memory()[0]
    finally:
        tracemalloc.stop()
    charged = sum(eng._row_size(k, v) for k, v in cache.items())
    assert traced <= charged <= 1.5 * traced
