"""BM25 retrieval (operators/retrieval): exact python replay, top-k
two-stage invariance, partitioning determinism, IDF-mode rank agreement."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from elephantdb_spark.operators.retrieval import bm25_topk

DOCS = [
    (1, "spark join window join"),
    (2, "hash table scan table table"),
    (3, "spark window"),
    (4, "stream batch data"),
    (5, ""),  # never matches
    (6, "   "),  # whitespace-only: dl 0, never matches
    (7, "the quick spark"),
    (8, "join join join join join join"),
]

QUERIES = [
    (1, "spark join"),
    (2, "table"),
    (3, "zebra"),  # matches nothing: absent from output
]


def _replay(docs, queries, k=10, k1=1.2, b=0.75, scale=1_000_000):
    """Pure-python BM25 (rational IDF, fixed point) — the oracle-free
    ground truth for the Spark operator."""
    toks = {d: t.split() for d, t in docs if t.strip()}
    toks = {d: [w.lower() for w in ws] for d, ws in toks.items()}
    n = len(docs)
    total = sum(len(ws) for d, ws in toks.items())
    # note: docs with empty text still count in n / total (dl 0)
    avgdl = total / n
    out = {}
    for qid, qtext in queries:
        qtok = sorted({w.lower() for w in qtext.split()})
        scores = {}
        for t in qtok:
            hit = {d: ws.count(t) for d, ws in toks.items() if t in ws}
            dfc = len(hit)
            if not dfc:
                continue
            idf = (n - dfc + 0.5) / (dfc + 0.5)
            for d, tf in hit.items():
                dl = len(toks[d])
                tfn = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                scores[d] = scores.get(d, 0) + math.floor(idf * tfn * float(scale))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [
            (rk + 1, d, fp / float(scale)) for rk, (d, fp) in enumerate(ranked)
        ]
    return out


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(DOCS, "doc_id int, text string")
    qdf = spark.createDataFrame(QUERIES, "query_id int, query_text string")
    return docs, qdf


def _collect(df):
    return [
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in df.orderBy("query_id", "rank").collect()
    ]


def test_bm25_matches_python_replay(frames):
    docs, qdf = frames
    got = _collect(bm25_topk(docs, qdf, "doc_id", "text", idf="rational"))
    want = _replay(DOCS, QUERIES)
    expect = [
        (qid, rk, d, s) for qid in sorted(want) for rk, d, s in want[qid]
    ]
    assert got == expect


def test_query_without_matches_is_absent(frames):
    docs, qdf = frames
    out = bm25_topk(docs, qdf, "doc_id", "text", idf="rational")
    assert out.filter(F.col("query_id") == 3).count() == 0
    # empty / whitespace-only docs never surface
    assert out.filter(F.col("doc_id").isin(5, 6)).count() == 0


def test_topk_invariant_to_prefilter_buckets(frames):
    docs, qdf = frames
    a = _collect(
        bm25_topk(docs, qdf, "doc_id", "text", idf="rational", prefilter_buckets=1)
    )
    b = _collect(
        bm25_topk(docs, qdf, "doc_id", "text", idf="rational", prefilter_buckets=64)
    )
    assert a == b


def test_deterministic_under_repartition(frames):
    docs, qdf = frames
    a = _collect(bm25_topk(docs.repartition(7), qdf, "doc_id", "text", idf="rational"))
    b = _collect(bm25_topk(docs.coalesce(1), qdf, "doc_id", "text", idf="rational"))
    assert a == b


def test_k_truncates(frames):
    docs, qdf = frames
    out = bm25_topk(docs, qdf, "doc_id", "text", k=1, idf="rational")
    rows = _collect(out)
    per_q = {}
    for qid, rk, d, s in rows:
        per_q.setdefault(qid, []).append(rk)
    assert all(v == [1] for v in per_q.values())
    full = _replay(DOCS, QUERIES, k=1)
    assert rows == [
        (qid, rk, d, s) for qid in sorted(full) for rk, d, s in full[qid]
    ]


def test_lucene_mode_rank_agrees_on_single_term_queries(frames):
    """ln is monotone ⇒ per single-term query the lucene ranking must
    equal the rational ranking (multi-term totals may reweight)."""
    docs, _ = frames
    qdf = docs.sparkSession.createDataFrame(
        [(2, "table")], "query_id int, query_text string"
    )
    rat = [(r.rank, r.doc_id) for r in
           bm25_topk(docs, qdf, "doc_id", "text", idf="rational").collect()]
    luc = [(r.rank, r.doc_id) for r in
           bm25_topk(docs, qdf, "doc_id", "text", idf="lucene").collect()]
    assert sorted(rat) == sorted(luc)


def test_validation(frames):
    docs, qdf = frames
    with pytest.raises(ValueError):
        bm25_topk(docs, qdf, "doc_id", "text", idf="nope")
    with pytest.raises(ValueError):
        bm25_topk(docs, qdf, "doc_id", "text", k=0)
    with pytest.raises(ValueError):
        bm25_topk(docs, qdf, "doc_id", "text", score_scale=0)


def test_precomputed_corpus_stats_single_scan_and_identical(spark):
    """corpus_stats removes the stats-only corpus pass: results must be
    byte-identical to the computed-stats path, and the corpus parquet
    must never appear in more than one scan node. Since r19 the matched
    tf frame is a lazy localCheckpoint (dfreq rides a groupBy+broadcast
    over it instead of a skew-prone token window), so the one real scan
    lives INSIDE the checkpoint RDD's lineage and the top-level plan
    shows only Scan ExistingRDD — zero visible parquet Locations is the
    pass condition, >= 2 would mean the re-scan came back."""
    import io
    from contextlib import redirect_stdout

    from elephantdb_spark.operators.retrieval import (
        bm25_corpus_stats,
        bm25_topk,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = spark.createDataFrame(
        [(1, "the quick brown"), (2, "data pipeline")],
        "query_id long, query_text string",
    )
    stats = bm25_corpus_stats(docs, "text")
    assert stats[0] == docs.count()
    base = bm25_topk(docs, queries, "doc_id", "text", k=5, idf="rational")
    fast = bm25_topk(
        docs, queries, "doc_id", "text", k=5, idf="rational",
        corpus_stats=stats,
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, fast.collect())
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        fast.explain("formatted")
    plan = buf.getvalue()
    n_corpus_scans = sum(
        "documents.parquet" in ln for ln in plan.splitlines()
        if "Location" in ln
    )
    assert n_corpus_scans <= 1, plan
    assert "Scan ExistingRDD" in plan, plan


def test_topk_invariant_to_two_stage(frames):
    """r19: the single-window (WindowGroupLimit-backed) and salted
    two-stage top-k forms must select identical rows."""
    docs, qdf = frames
    single = bm25_topk(docs, qdf, "doc_id", "text", idf="rational", two_stage=False)
    double = bm25_topk(docs, qdf, "doc_id", "text", idf="rational", two_stage=True)
    assert sorted(map(tuple, single.collect())) == sorted(
        map(tuple, double.collect())
    )


def _plan_of(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_auto_topk_shape_follows_window_group_limit(frames):
    """r19: two_stage=None resolves against the engine's rank-limit
    rewrite — one Window node (plus WindowGroupLimit pre-pruning) when
    active, the salted two-Window chain when the rewrite is disabled."""
    import re

    from elephantdb_spark.operators.retrieval import (
        _WGL_THRESHOLD_CONF,
        _window_group_limit_active,
    )

    docs, qdf = frames
    spark = docs.sparkSession
    assert _window_group_limit_active(spark, 10)  # Spark >= 3.5 default

    def n_windows(df):
        return len(re.findall(r"\(\d+\) Window\b", _plan_of(df)))

    auto = bm25_topk(docs, qdf, "doc_id", "text", idf="rational")
    plan = _plan_of(auto)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "WindowGroupLimit" in plan, plan

    prev = spark.conf.get(_WGL_THRESHOLD_CONF)
    spark.conf.set(_WGL_THRESHOLD_CONF, "-1")
    try:
        assert not _window_group_limit_active(spark, 10)
        fallback = bm25_topk(docs, qdf, "doc_id", "text", idf="rational")
        assert n_windows(fallback) == 2  # salted pre-stage + final
    finally:
        spark.conf.set(_WGL_THRESHOLD_CONF, prev)


def test_window_group_limit_probe_propagates_unrelated_errors():
    """Only an unknown conf or a non-integer value means "rewrite
    unavailable"; any other failure of ``spark.conf.get`` propagates
    instead of silently choosing the salted top-k shape."""
    from types import SimpleNamespace

    from pyspark.errors import SparkNoSuchElementException

    from elephantdb_spark.operators.retrieval import _window_group_limit_active

    def session(get):
        return SimpleNamespace(conf=SimpleNamespace(get=get))

    def missing(key):
        raise SparkNoSuchElementException(
            errorClass="SQL_CONF_NOT_FOUND", messageParameters={"sqlConf": key}
        )

    def broken(key):
        raise RuntimeError("gateway closed")

    assert not _window_group_limit_active(session(missing), 10)
    assert not _window_group_limit_active(session(lambda key: "many"), 10)
    assert not _window_group_limit_active(session(lambda key: None), 10)
    assert _window_group_limit_active(session(lambda key: "1000"), 10)
    with pytest.raises(RuntimeError, match="gateway closed"):
        _window_group_limit_active(session(broken), 10)


def test_dfreq_broadcast_no_token_window(frames):
    """r19: the per-token document frequency must ride a broadcast join
    of a groupBy(token) aggregate, never a count window partitioned by
    token (single-task skew on a hot query token at scale)."""
    docs, qdf = frames
    plan = _plan_of(bm25_topk(docs, qdf, "doc_id", "text", idf="rational"))
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "token" not in line, line
