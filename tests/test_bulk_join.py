"""Domain.bulk_join: corpus-sized enrichment against a domain — probe
side pays one exchange (the domain's own shard map), the domain side
never shuffles (tasks read their shard files directly)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elephantdb_spark import DomainSpec, build_domain
from elephantdb_spark.engine import Domain

PAIRS = [(f"k{i:03d}".encode(), f"v{i}".encode()) for i in range(200)]


@pytest.fixture(scope="module")
def dom(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bj") / "d")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8),
        version=1,
    )
    return Domain(spark, root)


def _probe(spark, keys):
    return spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "probe_id long, k binary"
    )


def test_bulk_join_matches_multi_get(spark, dom):
    keys = [f"k{i:03d}".encode() for i in range(0, 200, 3)] + [b"missing"]
    got = {
        bytes(r["k"]): (None if r["value"] is None else bytes(r["value"]))
        for r in dom.bulk_join(_probe(spark, keys), "k").collect()
    }
    expect = dom.multi_get(keys)
    assert got == expect
    assert got[b"missing"] is None


def test_bulk_join_null_keys_and_duplicates(spark, dom):
    df = spark.createDataFrame(
        [(1, b"k000"), (2, None), (3, b"k000"), (4, b"nope")],
        "probe_id long, k binary",
    )
    rows = {r["probe_id"]: r["value"] for r in dom.bulk_join(df, "k").collect()}
    assert bytes(rows[1]) == b"v0" and bytes(rows[3]) == b"v0"
    assert rows[2] is None and rows[4] is None


def test_bulk_join_single_exchange_no_domain_scan(spark, dom):
    """The plan contract: ONE exchange (probe repartition); the domain
    never appears as a Spark scan — tasks read it directly."""
    import io
    from contextlib import redirect_stdout

    from elephantdb_spark.plans import count_exchanges

    df = dom.bulk_join(_probe(spark, [b"k001"]), "k")
    assert count_exchanges(df) == 1
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Scan parquet") == 0, plan  # no domain-side scan node


def test_bulk_join_validates_inputs(spark, dom):
    with pytest.raises(ValueError, match="not in frame"):
        dom.bulk_join(_probe(spark, [b"x"]), "nope")
    with pytest.raises(ValueError, match="must be binary"):
        dom.bulk_join(
            spark.createDataFrame([(1, "s")], "probe_id long, k string"), "k"
        )
    with pytest.raises(ValueError, match="already exists"):
        dom.bulk_join(
            spark.createDataFrame([(b"v", b"k")], "value binary, k binary"), "k"
        )


def test_bulk_join_version_pinned(spark, tmp_path):
    from elephantdb_spark import update_domain

    root = str(tmp_path / "d")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS[:50], "key binary, value binary"),
        root,
        DomainSpec(num_shards=4),
        version=1,
    )
    update_domain(
        spark,
        spark.createDataFrame([(b"k000", b"NEW")], "key binary, value binary"),
        root,
        version=2,
    )
    dom = Domain(spark, root)
    cur = dom.bulk_join(_probe(spark, [b"k000"]), "k").collect()[0]
    old = dom.bulk_join(_probe(spark, [b"k000"]), "k", version=1).collect()[0]
    assert bytes(cur["value"]) == b"NEW"
    assert bytes(old["value"]) == b"v0"


def test_bulk_join_orc_fallback(spark, tmp_path):
    root = str(tmp_path / "dorc")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS[:40], "key binary, value binary"),
        root,
        DomainSpec(num_shards=4, persistence_format="orc"),
        version=1,
    )
    dom = Domain(spark, root)
    got = {
        bytes(r["k"]): (None if r["value"] is None else bytes(r["value"]))
        for r in dom.bulk_join(
            _probe(spark, [b"k001", b"gone"]), "k"
        ).collect()
    }
    assert got == {b"k001": b"v1", b"gone": None}


def test_bulk_join_orc_fallback_duplicate_domain_keys_first_match(spark, tmp_path):
    """ADVICE r5: a dedup='none' domain with duplicate keys must yield
    ONE value per probe row in the fallback path too (the parquet path's
    pc.index_in first-match semantics), not multiply probe rows."""
    root = str(tmp_path / "ddup")
    build_domain(
        spark,
        spark.createDataFrame(
            [(b"dup", b"v1"), (b"dup", b"v2"), (b"one", b"only")],
            "key binary, value binary",
        ),
        root,
        DomainSpec(num_shards=2, persistence_format="orc"),
        version=1,
        dedup="none",
    )
    dom = Domain(spark, root)
    rows = dom.bulk_join(_probe(spark, [b"dup", b"one", b"dup"]), "k").collect()
    assert len(rows) == 3  # one output row per probe row, never multiplied
    by_id = {r["probe_id"]: bytes(r["value"]) for r in rows}
    assert by_id[0] in (b"v1", b"v2")  # which duplicate wins: unspecified
    assert by_id[0] == by_id[2]  # ...but consistent within one run
    assert by_id[1] == b"only"


def test_bulk_join_rejects_internal_column_clash(spark, dom):
    df = spark.createDataFrame(
        [(1, b"k001", 5)], "probe_id long, k binary, __shard long"
    )
    with pytest.raises(ValueError, match="internal"):
        dom.bulk_join(df, "k")


@pytest.fixture(scope="module")
def dom_rg(spark, tmp_path_factory):
    """Multi-row-group shards (tiny parquet blocks) — the shape where
    tasks_per_shard actually slices instead of degrading."""
    root = str(tmp_path_factory.mktemp("bjrg") / "d")
    pairs = [(f"k{i:04d}".encode(), f"v{i}".encode()) for i in range(4000)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=8,
                   persistence_opts={"parquet.block.size": 4096}),
        version=1,
    )
    return Domain(spark, root)


def test_bulk_join_subshard_matches_default_path(spark, dom_rg):
    """tasks_per_shard=m must return exactly the default path's result
    (hits, misses, nulls, duplicates) for every m, including m larger
    than any shard's row-group count. The fixture has real cut points,
    so the sliced path (not the no-cuts degrade) is what's exercised."""
    assert any(dom_rg._subshard_cuts(dom_rg.store.version_path(1), 4).values())
    keys = [f"k{i:04d}".encode() for i in range(0, 4000, 61)]
    probe_rows = [(i, k) for i, k in enumerate(keys + [b"missing", None, b"k0000"])]
    probe = spark.createDataFrame(probe_rows, "probe_id long, k binary")
    base = {r["probe_id"]: r["value"] for r in dom_rg.bulk_join(probe, "k").collect()}
    for m in (2, 4, 16):
        got = {
            r["probe_id"]: r["value"]
            for r in dom_rg.bulk_join(probe, "k", tasks_per_shard=m).collect()
        }
        assert got == base, m
    assert len(base) == len(probe_rows)
    assert sum(v is not None for v in base.values()) == len(keys) + 1


def test_bulk_join_subshard_splits_row_groups(spark, tmp_path):
    """With multi-row-group shard files, the cut table must actually
    split each shard into multiple sub-ranges, sub-tasks must read ONLY
    their slice's row groups, and the plan keeps ONE shuffle exchange."""
    import pyarrow.parquet as pq

    from elephantdb_spark.plans import count_exchanges

    root = str(tmp_path / "dbig")
    pairs = [(f"key{i:05d}".encode(), f"v{i}".encode()) for i in range(4000)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(
            num_shards=2,
            # tiny row groups → many per shard file → real cut points
            persistence_opts={"parquet.block.size": 4096},
        ),
        version=1,
    )
    dom = Domain(spark, root)
    cuts = dom._subshard_cuts(dom.store.version_path(1), 4)
    assert set(cuts) == {0, 1}
    for p, cl in cuts.items():
        assert 1 <= len(cl) <= 3, (p, cl)
        assert cl == sorted(cl) and len(set(cl)) == len(cl)
        # every cut is a real row-group boundary min of that shard
        import glob as _glob
        import os as _os

        mins = set()
        vdir = dom.store.version_path(1)
        for f in _glob.glob(_os.path.join(vdir, f"shard={p}", "*.parquet")):
            pf = pq.ParquetFile(f)
            ki = pf.schema_arrow.get_field_index("key")
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(ki).statistics
                mins.add(st.min)
        assert set(cl) <= mins, (p, cl)
    probe = _probe(spark, [k for k, _ in pairs[::7]] + [b"absent"])
    out = dom.bulk_join(probe, "k", tasks_per_shard=4)
    assert count_exchanges(out) == 1  # broadcast range join adds NO shuffle
    got = {bytes(r["k"]): r["value"] for r in out.collect()}
    assert len(got) == len(pairs[::7]) + 1
    assert got[b"absent"] is None
    assert all(
        bytes(got[k]) == v for k, v in pairs[::7]
    )


def test_bulk_join_subshard_degrades_when_no_cuts(spark, dom):
    """A domain whose shard files are single row groups (the default
    128 MB block at test scale) has no cut points — tasks_per_shard
    must degrade to the plain path (no broadcast join, same plan) so
    callers can set m unconditionally without paying routing overhead
    on small domains."""
    import io
    from contextlib import redirect_stdout

    from elephantdb_spark.plans import count_exchanges

    assert not any(
        dom._subshard_cuts(dom.store.version_path(1), 4).values()
    )
    df = dom.bulk_join(_probe(spark, [b"k001", b"zz"]), "k", tasks_per_shard=4)
    assert count_exchanges(df) == 1
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "BroadcastHashJoin" not in buf.getvalue()
    got = {bytes(r["k"]): r["value"] for r in df.collect()}
    assert bytes(got[b"k001"]) == b"v1" and got[b"zz"] is None


def test_bulk_join_subshard_per_task_rows_bounded(spark, tmp_path):
    """The memory contract behind tasks_per_shard (deterministic — no
    wall clocks): with m=4, every sub-task's loaded row count is
    ~shard/4 (+ at most one boundary row group), never the whole shard,
    and the slices together cover every row group exactly once when cuts
    land on row-group boundaries."""
    import pyarrow.parquet as pq

    from elephantdb_spark.engine import slice_row_groups

    root = str(tmp_path / "dmem")
    pairs = [(f"key{i:06d}".encode(), b"v" * 40) for i in range(20000)]
    build_domain(
        spark,
        spark.createDataFrame(pairs, "key binary, value binary"),
        root,
        DomainSpec(num_shards=4,
                   persistence_opts={"parquet.block.size": 16384}),
        version=1,
    )
    dom = Domain(spark, root)
    m = 4
    cuts = dom._subshard_cuts(dom.store.version_path(1), m)
    import glob
    import os

    for p, cl in cuts.items():
        assert len(cl) == m - 1, (p, cl)  # enough row groups → full split
        files = glob.glob(os.path.join(
            dom.store.version_path(1), f"shard={p}", "*.parquet"
        ))
        shard_rows = 0
        rg_rows_max = 0
        per_slice = []
        covered = []
        for j in range(len(cl) + 1):
            lo = cl[j - 1] if j > 0 else None
            hi = cl[j] if j < len(cl) else None
            rows_j = 0
            for f in files:
                pf = pq.ParquetFile(f)
                ki = pf.schema_arrow.get_field_index("key")
                rgs = slice_row_groups(pf, ki, lo, hi)
                rows_j += sum(
                    pf.metadata.row_group(rg).num_rows for rg in rgs
                )
                covered.extend((f, rg) for rg in rgs)
            per_slice.append(rows_j)
        for f in files:
            pf = pq.ParquetFile(f)
            shard_rows += pf.metadata.num_rows
            rg_rows_max = max(
                rg_rows_max,
                max(pf.metadata.row_group(rg).num_rows
                    for rg in range(pf.metadata.num_row_groups)),
            )
        # coverage: every row group loaded by exactly one slice (cuts on
        # row-group mins → no boundary straddle in a key-sorted build)
        assert sorted(set(covered)) == sorted(covered)
        assert sum(per_slice) == shard_rows
        # bound: no slice holds more than its share + one row group
        assert max(per_slice) <= shard_rows // m + rg_rows_max, (
            p, per_slice, shard_rows, rg_rows_max
        )
        # and the split is real: the max slice is well under the shard
        assert max(per_slice) < shard_rows


def test_auto_tasks_per_shard_selection(spark, dom):
    """VERDICT r6 item 1a: the DEFAULT must pick m from the probe-size
    estimate — m>1 for a corpus-sized probe with known stats, m=1 for a
    small one, and m=1 (never a guess) when stats are the unknown-leaf
    sentinel (driver-made probes)."""
    from elephantdb_spark.engine import (
        BULK_MAX_TASKS_PER_SHARD,
        BULK_PROBE_ROWS_PER_TASK,
        estimate_plan_rows,
    )

    n = dom.spec.num_shards
    # parquet scan: real byte-based stats
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert estimate_plan_rows(docs) is not None
    assert dom._auto_tasks_per_shard(docs) == 1  # tiny corpus → m=1
    # spark.range carries exact-size stats; large → m>1, clamped
    big = spark.range(n * BULK_PROBE_ROWS_PER_TASK * 6).select(
        F.col("id").cast("string").cast("binary").alias("k")
    )
    m = dom._auto_tasks_per_shard(big)
    assert 1 < m <= BULK_MAX_TASKS_PER_SHARD
    huge = spark.range(n * BULK_PROBE_ROWS_PER_TASK * 10_000).select(
        F.col("id").cast("string").cast("binary").alias("k")
    )
    assert dom._auto_tasks_per_shard(huge) == BULK_MAX_TASKS_PER_SHARD
    # createDataFrame probes are LogicalRDD → unknown stats → m=1
    assert estimate_plan_rows(_probe(spark, [b"k001"])) is None
    assert dom._auto_tasks_per_shard(_probe(spark, [b"k001"])) == 1


def test_auto_tasks_partial_parallelism(monkeypatch):
    """r7: a mid-sized probe — too small for full cluster parallelism at
    BULK_MIN_ROWS_PER_TASK per task but big enough for SOME sub-sharding
    — gets the LARGEST m meeting the bound, not a wholesale fall-back to
    m=1. Estimate and cluster parallelism are both stubbed so the
    selection arm is tested deterministically (Catalyst size-based row
    estimates vary with schema width; session parallelism varies with
    the test master)."""
    import elephantdb_spark.engine as eng

    n = 8

    class _FakeSelf:
        spec = DomainSpec(num_shards=n)

        class spark:
            class sparkContext:
                defaultParallelism = 32  # full lift would be m=4

    fake = _FakeSelf()
    # no probe frame at all: the footer floor is stubbed out too
    monkeypatch.setattr(eng, "estimate_leaf_file_rows", lambda df: None)
    sel = lambda rows: (
        monkeypatch.setattr(eng, "estimate_plan_rows", lambda df: rows)
        or Domain._auto_tasks_per_shard(fake, None)
    )
    per_m = n * eng.BULK_MIN_ROWS_PER_TASK
    assert sel(per_m * 2) == 2  # partial parallelism, not 1
    assert sel(per_m * 2 - 1) == 1  # a notch below the m=2 bound
    assert sel(per_m * 4) == 4  # full lift once every slice clears it
    assert sel(per_m * 10) == 4  # parallelism arm capped at full lift
    # memory arm takes over for genuinely huge probes
    assert sel(n * eng.BULK_PROBE_ROWS_PER_TASK * 7) == 7


def test_auto_tasks_filtered_probe_floor(spark, tmp_path, monkeypatch):
    """VERDICT r7 item 7: the byte-width row estimate under-counts
    file-backed probes ~6× (compressed bytes ÷ uncompressed width) and a
    99%-selective filter doesn't change it either way (non-CBO Catalyst
    propagates sizeInBytes through filters unchanged) — so the
    parallelism arm floors its row figure with the leaves' footer-known
    PRE-filter count. A heavily-filtered probe over a large base
    relation must still choose m>1."""
    import elephantdb_spark.engine as eng

    base = str(tmp_path / "probe_base")
    n_rows = 8 * eng.BULK_MIN_ROWS_PER_TASK * 3  # 600k: m=2 needs 400k
    spark.range(n_rows).select(
        F.col("id"), F.col("id").cast("string").cast("binary").alias("k")
    ).write.parquet(base)
    scan = spark.read.parquet(base)
    filtered = scan.filter(F.col("id") % 100 == 0).select("k")  # ~1% kept

    floor = eng.estimate_leaf_file_rows(filtered)
    assert floor is not None
    # footer-sampled: exact to the sampling ratio, PRE-filter
    assert n_rows * 0.8 <= floor <= n_rows * 1.2
    # non-file probes: no floor, unchanged behavior
    assert eng.estimate_leaf_file_rows(spark.range(10).select("id")) is None
    assert eng.estimate_leaf_file_rows(
        spark.createDataFrame([(b"k",)], "k binary")
    ) is None

    class _FakeSelf:
        spec = DomainSpec(num_shards=8)

        class spark:
            class sparkContext:
                defaultParallelism = 32  # full lift would be m=4

    m = eng.Domain._auto_tasks_per_shard(_FakeSelf(), filtered)
    assert m > 1  # the 99%-filtered probe still sub-shards

    # r8 review: ONE RDD leaf anywhere (a createDataFrame lookup joined
    # into the parquet probe) propagates the unknown-size sentinel over
    # the WHOLE plan — estimate_plan_rows sees None — but the file
    # leaves' footer floor must still drive m, not a wholesale m=1.
    lookup = spark.createDataFrame([(b"k",)], "k binary")
    mixed = scan.join(lookup, "k", "left").select("k")
    assert eng.estimate_plan_rows(mixed) is None
    mixed_floor = eng.estimate_leaf_file_rows(mixed)
    assert mixed_floor is not None and mixed_floor >= n_rows * 0.8
    assert eng.Domain._auto_tasks_per_shard(_FakeSelf(), mixed) > 1


def test_leaf_row_estimate_degrades_only_on_access_failures(
    spark, tmp_path, monkeypatch
):
    """The footer floor decides bulk_join's tasks_per_shard: a file it
    cannot read makes it "unknown" (None), but an unexpected error
    propagates instead of silently choosing m=1."""
    import pyarrow.parquet as pq

    import elephantdb_spark.engine as eng

    base = str(tmp_path / "est")
    spark.range(100).write.parquet(base)
    probe = spark.read.parquet(base)

    def raising(exc):
        def read_metadata(*_a, **_kw):
            raise exc
        return read_metadata

    monkeypatch.setattr(pq, "read_metadata", raising(OSError("gone")))
    assert eng.estimate_leaf_file_rows(probe) is None
    monkeypatch.setattr(pq, "read_metadata", raising(RuntimeError("bug")))
    with pytest.raises(RuntimeError, match="bug"):
        eng.estimate_leaf_file_rows(probe)


def test_bulk_join_default_is_auto_and_correct(spark, dom_rg):
    """tasks_per_shard defaults to auto-selection and still returns
    exactly the m=1 result on a domain WITH real cut points."""
    keys = [f"k{i:04d}".encode() for i in range(0, 4000, 97)] + [b"nope"]
    probe = _probe(spark, keys)
    base = {
        bytes(r["k"]): r["value"]
        for r in dom_rg.bulk_join(probe, "k", tasks_per_shard=1).collect()
    }
    got = {
        bytes(r["k"]): r["value"] for r in dom_rg.bulk_join(probe, "k").collect()
    }
    assert got == base


def test_bulk_join_chunked_probe_equivalence(spark, dom_rg, monkeypatch):
    """VERDICT r6 item 1b: tasks probe in bounded chunks instead of
    buffering the whole partition. Force many small Arrow batches and a
    tiny chunk bound — results must be identical to the unchunked path,
    including nulls, misses and cross-chunk duplicates."""
    import elephantdb_spark.engine as eng

    keys = [f"k{i:04d}".encode() for i in range(0, 4000, 3)]
    rows = [(i, k) for i, k in enumerate(keys + [b"nope", None, keys[0]])]
    probe = spark.createDataFrame(rows, "probe_id long, k binary")
    expect = {
        r["probe_id"]: r["value"]
        for r in dom_rg.bulk_join(probe, "k", tasks_per_shard=2).collect()
    }
    monkeypatch.setattr(eng, "BULK_PROBE_CHUNK_ROWS", 37)
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "19")
    try:
        got = {
            r["probe_id"]: r["value"]
            for r in dom_rg.bulk_join(probe, "k", tasks_per_shard=2).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    assert got == expect
    assert got[len(rows) - 3] is None and got[len(rows) - 2] is None
    assert bytes(got[len(rows) - 1]) == bytes(got[0])


def test_bulk_join_fails_loudly_when_version_gcd(spark, tmp_path):
    """Review finding: a GC'd version dir must raise, not return a
    silent 100% miss (the Spark read paths fail loudly in this race)."""
    import shutil

    root = str(tmp_path / "d")
    build_domain(
        spark,
        spark.createDataFrame(PAIRS[:20], "key binary, value binary"),
        root,
        DomainSpec(num_shards=2),
        version=1,
    )
    dom = Domain(spark, root)
    df = dom.bulk_join(_probe(spark, [b"k000"]), "k")  # lazy: pins vpath
    shutil.rmtree(dom.store.version_path(1))
    with pytest.raises(Exception, match="disappeared"):
        df.collect()
