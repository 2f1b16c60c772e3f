"""Persisted MinHash near-dup history (operators/neardup_history):
flag/match/estimate parity with a python replay over Spark-computed
signatures, exact-reingest scoring, no-signature rows, incremental
append + version pinning, and the params-file contract."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from elephantdb_spark.operators.neardup_history import (
    append_neardup_history,
    build_neardup_history,
    compact_neardup_history,
    filter_against_neardup_history,
    minhash_signatures,
    read_params,
)
from elephantdb_spark.spec import DomainSpec

_VOCAB = (
    "table row scan join merge batch window filter vector hash "
    "stream column agg sort spark query value part order data"
).split()


def _doc(i: int, n: int = 40) -> str:
    rnd = random.Random(1000 + i)
    return " ".join(rnd.choice(_VOCAB) for _ in range(n))


CORPUS = [(i, _doc(i)) for i in range(30)]
BATCH = [
    (1000, _doc(0)),                            # exact re-ingest of doc 0
    (1001, _doc(1) + " appended tail words"),   # near-dup of doc 1
    (1002, " ".join(f"novel{k} zephyr{k} glorp{k}" for k in range(15))),  # new
    (1003, "one two"),                          # < shingle_len tokens: no sig
]
NUM_PERM, BANDS, SHINGLE_LEN, THRESHOLD = 32, 8, 3, 0.7


@pytest.fixture(scope="module")
def nd_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ndhist") / "minhash")
    corpus = spark.createDataFrame(CORPUS, "doc_id int, text string")
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(num_shards=4), version=1,
    )
    return root


def _collect_sigs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = minhash_signatures(df, "doc_id", "text", NUM_PERM, SHINGLE_LEN)
    return {
        r["doc"]: [r[f"mh{i}"] for i in range(NUM_PERM)] for r in out.collect()
    }


def _python_replay(
    hist_sigs, batch_sigs, num_perm=NUM_PERM, bands=BANDS,
    threshold=THRESHOLD, max_bucket=32,
):
    """Independent replay of band index + member buckets + estimator over
    Spark-computed signatures (Spark is used only as the hash function).
    Buckets keep the max_bucket string-smallest member ids (min-k) and
    probes score against EVERY kept member (ADVICE r6)."""
    rpb = num_perm // bands
    buckets: dict[tuple, list] = {}
    for doc, sig in hist_sigs.items():
        for b in range(bands):
            k = (b, tuple(sig[b * rpb:(b + 1) * rpb]))
            buckets.setdefault(k, []).append(doc)
    for k, docs in buckets.items():
        buckets[k] = sorted(docs, key=str)[:max_bucket]
    want = {}
    for doc, sig in batch_sigs.items():
        cands = set()
        for b in range(bands):
            k = (b, tuple(sig[b * rpb:(b + 1) * rpb]))
            cands.update(buckets.get(k, ()))
        scored = [
            (sum(a == b for a, b in zip(sig, hist_sigs[c])) / num_perm, c)
            for c in cands
        ]
        hits = [(e, c) for e, c in scored if e >= threshold]
        if hits:
            # max est, ties by ascending STRING id (the operator contract)
            est, match = min(hits, key=lambda t: (-t[0], str(t[1])))
            want[doc] = (True, str(match), est)
        else:
            want[doc] = (False, None, None)
    return want


def _probe(spark, root, **kw):
    batch = spark.createDataFrame(BATCH, "doc_id int, text string")
    out = filter_against_neardup_history(
        spark, batch, root, "doc_id", "text",
        threshold=THRESHOLD, cache_sigs=False, **kw,
    )
    return {
        r.doc_id: (r.is_neardup, r.match_id, r.est_jaccard) for r in out.collect()
    }


def test_flags_match_signature_replay(spark, nd_root):
    hist_sigs = _collect_sigs(spark, CORPUS)
    batch_sigs = _collect_sigs(spark, BATCH)
    want = _python_replay(hist_sigs, batch_sigs)
    got = _probe(spark, nd_root)
    assert set(got) == {1000, 1001, 1002, 1003}
    for doc_id in (1000, 1001, 1002):
        assert got[doc_id] == want[doc_id], doc_id
    # the classes actually exercise what they claim
    assert got[1000][0] is True and got[1000][2] == 1.0  # exact: est = 1
    assert got[1001][0] is True and got[1001][2] < 1.0   # near: est < 1
    assert got[1002] == (False, None, None)              # novel


def test_exact_reingest_matches_original(spark, nd_root):
    got = _probe(spark, nd_root)
    assert got[1000][1] == "0"


def test_no_signature_row_is_unflagged(spark, nd_root):
    assert _probe(spark, nd_root)[1003] == (False, None, None)


def test_append_then_refilter_and_version_pin(spark, nd_root):
    batch = spark.createDataFrame(BATCH, "doc_id int, text string")
    accepted = filter_against_neardup_history(
        spark, batch, nd_root, "doc_id", "text",
        threshold=THRESHOLD, cache_sigs=False,
    ).filter(~F.col("is_neardup")).select("doc_id", "text")
    v2 = append_neardup_history(spark, accepted, nd_root, "doc_id", "text")
    assert v2 > 1
    after = _probe(spark, nd_root)
    # the previously-novel doc now matches itself in history
    assert after[1002] == (True, "1002", 1.0)
    # exact/near flags are unchanged by the append
    assert after[1000][0] is True and after[1001][0] is True
    # pinning version 1 replays the pre-append answers
    pinned = _probe(spark, nd_root, version=1)
    assert pinned[1002] == (False, None, None)


def test_params_file_contract(spark, nd_root, tmp_path):
    p = read_params(nd_root)
    assert p == {
        "num_perm": NUM_PERM, "bands": BANDS,
        "shingle_len": SHINGLE_LEN, "hash_fn": "xxhash64",
        "max_bucket": 32,
    }
    with pytest.raises(ValueError, match="not a neardup-history root"):
        filter_against_neardup_history(
            spark,
            spark.createDataFrame(BATCH, "doc_id int, text string"),
            str(tmp_path / "nowhere"), "doc_id", "text",
        )


def test_output_column_clash_raises(spark, nd_root):
    bad = spark.createDataFrame(
        [(1, "a b c d", True)], "doc_id int, text string, is_neardup boolean"
    )
    with pytest.raises(ValueError, match="collide"):
        filter_against_neardup_history(spark, bad, nd_root, "doc_id", "text")


# Triple found by offline search against the real xxhash64 signatures:
# A and B share exactly one band (forced by the anchor token run), the
# probe P satisfies est(P,A)=15/32 < 0.7 <= est(P,B)=23/32. A's id sorts
# before B's, so a single-representative band index would score only A
# and silently unflag P (the ADVICE r6 failure mode).
_ADV_ANCHOR = " ".join(f"anchor0x{j}" for j in range(40))
_ADV_A = (
    "row scan scan column batch hash vector data window data row order "
    "batch sort agg value column part spark value vector row table column "
    "spark " + _ADV_ANCHOR
)
_ADV_B = (
    "merge order scan vector join query spark query agg window join query "
    "table agg sort data table spark vector filter order join stream table "
    "table " + _ADV_ANCHOR
)
_ADV_P = (
    "merge order part vector join query spark query agg batch join data "
    "table agg agg data join spark vector filter order join stream table "
    "table " + _ADV_ANCHOR
)


def _adv_probe(spark, root, **kw):
    batch = spark.createDataFrame([(100, _ADV_P)], "doc_id int, text string")
    return filter_against_neardup_history(
        spark, batch, root, "doc_id", "text",
        threshold=THRESHOLD, cache_sigs=False, **kw,
    ).collect()[0]


def _adv_build(spark, path, rows, **kw):
    build_neardup_history(
        spark,
        spark.createDataFrame(rows, "doc_id int, text string"),
        path, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(num_shards=2), version=1, **kw,
    )
    return path


def test_bucket_members_beyond_smallest_are_scored(spark, tmp_path):
    """ADVICE r6 (medium): history {A, B} share a band bucket and only B
    clears the threshold against the probe. A representative-only index
    (min doc id = A) silently unflagged the probe; the member bucket
    must score EVERY member and flag via B."""
    root = _adv_build(
        spark, str(tmp_path / "adv"), [(1, _ADV_A), (2, _ADV_B)]
    )
    out = _adv_probe(spark, root)
    assert out.is_neardup is True
    assert out.match_id == "2"  # B — NOT the bucket's min-id member A
    assert abs(out.est_jaccard - 23 / 32) < 1e-9
    # and the sub-threshold member alone must NOT flag (fixture sanity)
    root_a = _adv_build(spark, str(tmp_path / "advA"), [(1, _ADV_A)])
    assert _adv_probe(spark, root_a).is_neardup is False


def test_append_merges_band_buckets(spark, tmp_path):
    """Append must MERGE colliding band buckets (bounded set union), not
    replace them — and the min-k merge is append-order independent: the
    probe's verdict is identical whichever of {A, B} arrived first."""
    for first, second, tag in [(1, 2, "ab"), (2, 1, "ba")]:
        docs = {1: _ADV_A, 2: _ADV_B}
        root = _adv_build(
            spark, str(tmp_path / f"m{tag}"), [(first, docs[first])]
        )
        append_neardup_history(
            spark,
            spark.createDataFrame(
                [(second, docs[second])], "doc_id int, text string"
            ),
            root, "doc_id", "text",
        )
        out = _adv_probe(spark, root)
        assert out.is_neardup is True, tag
        assert out.match_id == "2", tag
        assert abs(out.est_jaccard - 23 / 32) < 1e-9, tag


def test_max_bucket_truncation_keeps_smallest(spark, tmp_path):
    """max_bucket=1 reproduces the legacy single-representative
    semantics exactly (the params-file default for pre-bucket roots):
    only the string-smallest member is kept, so the probe that needs B
    goes unflagged — the documented, bounded recall loss."""
    root = _adv_build(
        spark, str(tmp_path / "trunc"), [(1, _ADV_A), (2, _ADV_B)],
        max_bucket=1,
    )
    assert read_params(root)["max_bucket"] == 1
    out = _adv_probe(spark, root)
    assert out.is_neardup is False and out.match_id is None


def test_compaction_lifecycle(spark, tmp_path):
    """VERDICT r6 item 4: repeated appends fragment both sub-domains
    (one file per touched shard per append); compaction must collapse
    every shard to one file IN BOTH lockstep domains at ONE shared new
    version, with byte-identical probe results, and a pinned
    pre-compaction version must keep reading the old layout."""
    import os

    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "compact")
    corpus = spark.createDataFrame(CORPUS[:10], "doc_id int, text string")
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        # maxRecordsPerFile is where real-world fragmentation comes from
        # (per-task output splits at cluster scale); appends re-apply it
        spec=DomainSpec(
            num_shards=4, persistence_opts={"maxRecordsPerFile": 5}
        ),
        version=1,
    )
    for j in range(5):
        append_neardup_history(
            spark,
            spark.createDataFrame(
                [(2000 + 10 * j + i, t) for i, t in CORPUS[10 + 2 * j:12 + 2 * j]],
                "doc_id int, text string",
            ),
            root, "doc_id", "text", version=2 + j,
        )
    pre_bands = Domain(spark, os.path.join(root, "bands")).layout_report()
    assert pre_bands["max_files_per_shard"] > 1  # appends really fragment
    before = _probe(spark, root)
    pre_version = Domain(spark, os.path.join(root, "bands")).store.most_recent_version()
    v = compact_neardup_history(spark, root, version=100)
    assert v == 100
    for sub in ("bands", "sigs"):
        d = Domain(spark, os.path.join(root, sub))
        assert d.store.most_recent_version() == 100, sub  # lockstep version
        assert d.layout_report()["one_file_per_shard"] is True, sub
    assert _probe(spark, root) == before  # byte-identical probe results
    assert _probe(spark, root, version=pre_version) == before  # pinned old
    # idempotent: already-compact history is a no-op (no new version)
    assert compact_neardup_history(spark, root) == 100


def test_compaction_crash_window_recovery(spark, tmp_path):
    """A crash BETWEEN compaction's two publishes (sigs compacted at the
    new version, bands not yet) must leave probes correct — bands still
    resolves the old version and the module's crash ordering guarantees
    its sigs twin exists — and a rerun with the default version must
    bring both sub-domains back to lockstep with unchanged results."""
    import os

    from elephantdb_spark.build import compact_domain
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "crashwin")
    corpus = spark.createDataFrame(CORPUS[:10], "doc_id int, text string")
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(
            num_shards=4, persistence_opts={"maxRecordsPerFile": 5}
        ),
        version=1,
    )
    append_neardup_history(
        spark,
        spark.createDataFrame(
            [(2000 + i, t) for i, t in CORPUS[10:14]],
            "doc_id int, text string",
        ),
        root, "doc_id", "text", version=2,
    )
    before = _probe(spark, root)
    # simulate the crash: ONLY the sigs sub-domain reaches version 100
    compact_domain(spark, os.path.join(root, "sigs"), version=100)
    bands_dom = Domain(spark, os.path.join(root, "bands"))
    assert bands_dom.store.most_recent_version() == 2  # bands untouched
    # probes across the crash window: identical (bands@2 pins sigs@2)
    assert _probe(spark, root) == before
    # recovery: rerun with the default (timestamp) version
    v = compact_neardup_history(spark, root)
    assert v > 100
    for sub in ("bands", "sigs"):
        d = Domain(spark, os.path.join(root, sub))
        assert d.store.most_recent_version() == v, sub
        assert d.layout_report()["one_file_per_shard"] is True, sub
    assert _probe(spark, root) == before


def test_copy_forward_publish_rolls_back_on_failure(spark, tmp_path, monkeypatch):
    """A sub-domain that is not fragmented publishes the compaction id by
    copy-forward alone. If a shard copy fails, that publish must roll
    back like every other writer: no unpublished version dir, a failure
    marker naming the new id, the other sub-domain untouched, and probes
    unchanged."""
    import os
    import shutil
    import threading

    from elephantdb_spark.build import compact_domain
    from elephantdb_spark.store import DomainStore

    root = str(tmp_path / "cfwd")
    corpus = spark.createDataFrame(CORPUS[:10], "doc_id int, text string")
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(
            num_shards=4, persistence_opts={"maxRecordsPerFile": 5}
        ),
        version=1,
    )
    append_neardup_history(
        spark,
        spark.createDataFrame(
            [(2000 + i, t) for i, t in CORPUS[10:14]],
            "doc_id int, text string",
        ),
        root, "doc_id", "text", version=2,
    )
    before = _probe(spark, root)
    # only bands stays fragmented: sigs will take the copy-forward path
    compact_domain(spark, os.path.join(root, "sigs"), version=100)

    real_copytree = shutil.copytree
    lock = threading.Lock()
    copies = []

    def copy_once_then_fail(src, dst, *a, **kw):
        with lock:
            copies.append(src)
            first = len(copies) == 1
        if not first:
            raise OSError("injected shard copy failure")
        return real_copytree(src, dst, *a, **kw)

    sigs = DomainStore.open(os.path.join(root, "sigs"))
    bands = DomainStore.open(os.path.join(root, "bands"))
    sigs_versions, bands_versions = sigs.all_versions(), bands.all_versions()
    monkeypatch.setattr(shutil, "copytree", copy_once_then_fail)
    with pytest.raises(OSError, match="injected"):
        compact_neardup_history(spark, root, version=200)
    monkeypatch.undo()
    assert len(copies) > 1  # sigs took the copy-forward path

    assert sigs.unpublished_versions() == []
    assert not os.path.exists(sigs.version_path(200))
    assert sigs.all_versions() == sigs_versions
    assert sigs.last_failure()["version"] == 200
    assert bands.all_versions() == bands_versions
    assert bands.most_recent_version() == 2
    assert _probe(spark, root) == before


def test_bands_must_divide_num_perm(spark, tmp_path):
    corpus = spark.createDataFrame(CORPUS[:3], "doc_id int, text string")
    with pytest.raises(ValueError, match="must divide"):
        build_neardup_history(
            spark, corpus, str(tmp_path / "nd"), "doc_id", "text",
            num_perm=32, bands=7,
        )


def test_engine_maintain_routes_to_lockstep_compaction(spark, tmp_path):
    """r9 (VERDICT r8 item 7): Engine.maintain on a neardup-history root
    — or on either sub-domain directly — must sweep the PAIR through the
    lockstep compactor (never compact one sub-domain alone), return the
    new version id, and return None on an already-clean pair."""
    import os

    from elephantdb_spark.engine import Domain, Engine

    eng = Engine(spark, str(tmp_path / "cat"))
    root = eng.domain_root("hist")
    corpus = spark.createDataFrame(CORPUS[:10], "doc_id int, text string")
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(
            num_shards=4, persistence_opts={"maxRecordsPerFile": 5}
        ),
        version=1,
    )
    for j in range(4):
        append_neardup_history(
            spark,
            spark.createDataFrame(
                [(3000 + 10 * j + i, t) for i, t in CORPUS[10 + 2 * j:12 + 2 * j]],
                "doc_id int, text string",
            ),
            root, "doc_id", "text", version=2 + j,
        )
    assert Domain(
        spark, os.path.join(root, "bands")
    ).layout_report()["max_files_per_shard"] > 1
    before = _probe(spark, root)

    v = eng.maintain("hist", version=50)
    assert v == 50
    for sub in ("sigs", "bands"):
        d = Domain(spark, os.path.join(root, sub))
        assert d.store.most_recent_version() == 50, sub  # lockstep
        assert d.layout_report()["one_file_per_shard"] is True, sub
    assert _probe(spark, root) == before  # byte-identical probes

    # clean pair: no-op, no new version, returns None
    assert eng.maintain("hist") is None
    assert Domain(
        spark, os.path.join(root, "bands")
    ).store.most_recent_version() == 50

    # naming a sub-domain must sweep the PAIR too (fragment again first)
    append_neardup_history(
        spark,
        spark.createDataFrame(
            [(4000 + i, t) for i, t in CORPUS[20:24]],
            "doc_id int, text string",
        ),
        root, "doc_id", "text", version=51,
    )
    v2 = eng.maintain("hist/sigs", version=60)
    assert v2 == 60
    for sub in ("sigs", "bands"):
        assert Domain(
            spark, os.path.join(root, sub)
        ).store.most_recent_version() == 60, sub


def test_engine_maintain_reads_cap_from_sub_domain_spec(spark, tmp_path):
    """ADVICE r9 item 1: with no compact_after_files argument, maintain on
    a history pair must follow the same default chain as regular domains
    (arg -> spec persistence_opts -> 1), reading the cap from the
    sub-domain specs instead of hardcoding 1."""
    import os

    from elephantdb_spark.engine import Domain, Engine

    eng = Engine(spark, str(tmp_path / "cat"))
    root = eng.domain_root("hist")
    corpus = spark.createDataFrame(CORPUS[:10], "doc_id int, text string")
    # maxRecordsPerFile=5 splits the 80-row bands build across ~4-5 files
    # per shard right away (the in-publish self-heal only runs on A20
    # updates, never the initial build), all within the spec's cap of 10
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(
            num_shards=4,
            persistence_opts={"maxRecordsPerFile": 5, "compact_after_files": 10},
        ),
        version=1,
    )
    frag = max(
        Domain(spark, os.path.join(root, sub)).layout_report()[
            "max_files_per_shard"
        ]
        for sub in ("sigs", "bands")
    )
    assert 1 < frag <= 10  # fragmented, but within the spec's cap
    # spec cap (10) honored: layout within threshold -> no-op (the r9
    # hardcoded default of 1 would have compacted here)
    assert eng.maintain("hist") is None
    for sub in ("sigs", "bands"):
        assert Domain(
            spark, os.path.join(root, sub)
        ).store.most_recent_version() == 1, sub
    # explicit arg still wins over the spec (tighter cap -> compaction)
    v = eng.maintain("hist", compact_after_files=1, version=70)
    assert v == 70
    for sub in ("sigs", "bands"):
        assert Domain(
            spark, os.path.join(root, sub)
        ).layout_report()["one_file_per_shard"] is True, sub


def test_engine_maintain_lone_declared_cap_folds_default(spark, tmp_path):
    """ADVICE r10 item 2: when only ONE of sigs/bands declares
    persistence_opts['compact_after_files'], the other's implicit
    default of 1 must still participate in the pair's min — a lone
    regular domain without the key compacts at cap 1, and the lockstep
    sweep must fire whenever either sub-domain's own effective
    threshold would."""
    import os

    from elephantdb_spark.engine import Domain, Engine
    from elephantdb_spark.spec import DomainSpec as _Spec

    eng = Engine(spark, str(tmp_path / "cat"))
    root = eng.domain_root("hist")
    corpus = spark.createDataFrame(CORPUS[:10], "doc_id int, text string")
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(
            num_shards=4,
            persistence_opts={"maxRecordsPerFile": 5, "compact_after_files": 10},
        ),
        version=1,
    )
    frag = max(
        Domain(spark, os.path.join(root, sub)).layout_report()[
            "max_files_per_shard"
        ]
        for sub in ("sigs", "bands")
    )
    assert 1 < frag <= 10  # fragmented, but within the declared cap of 10
    # drop the key from the bands spec only (hand-edited spec scenario):
    # its effective cap reverts to the default 1, which must now win the
    # pair's min over sigs' declared 10
    bands_root = os.path.join(root, "bands")
    old = _Spec.read(bands_root)
    opts = dict(old.persistence_opts or {})
    opts.pop("compact_after_files")
    _Spec(
        num_shards=old.num_shards,
        shard_scheme=old.shard_scheme,
        persistence_format=old.persistence_format,
        persistence_opts=opts,
    ).write(bands_root)
    v = eng.maintain("hist", version=80)
    assert v == 80  # compacted: min(10, default 1) = 1 < frag
    for sub in ("sigs", "bands"):
        d = Domain(spark, os.path.join(root, sub))
        assert d.store.most_recent_version() == 80, sub
        assert d.layout_report()["one_file_per_shard"] is True, sub


def test_engine_maintain_missing_sub_domain_raises(spark, tmp_path):
    """ADVICE r9 item 2: a params file left by a crashed/partial build
    whose sigs or bands sub-domain is missing must raise
    DomainNotFoundError naming the missing sub-domain, not an opaque
    spec-read error."""
    import os
    import shutil

    from elephantdb_spark.engine import DomainNotFoundError, Engine

    eng = Engine(spark, str(tmp_path / "cat"))
    root = eng.domain_root("hist")
    corpus = spark.createDataFrame(CORPUS[:6], "doc_id int, text string")
    build_neardup_history(
        spark, corpus, root, "doc_id", "text",
        num_perm=NUM_PERM, bands=BANDS, shingle_len=SHINGLE_LEN,
        spec=DomainSpec(num_shards=2), version=1,
    )
    shutil.rmtree(os.path.join(root, "bands"))
    with pytest.raises(DomainNotFoundError, match="bands"):
        eng.maintain("hist")
