"""Persisted dedup-history domain (operators/history): membership flags
vs python replay, append/version-pin semantics, broadcast-vs-shuffle path
agreement, null-key digests, and the no-history-shuffle plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elephantdb_spark.operators import history
from elephantdb_spark.operators.history import (
    append_dedup_history,
    build_dedup_history,
    filter_against_history,
)
from elephantdb_spark.spec import DomainSpec

CORPUS = [(i, f"document body {i}") for i in range(40)] + [(100, None)]
BATCH = (
    [(200 + i, f"document body {i}") for i in range(0, 10)]  # seen
    + [(300 + i, f"brand new text {i}") for i in range(5)]  # new
    + [(400, None)]  # null text: seen (corpus has a null-text row)
    + [(401, "None")]  # the string 'None' must NOT collide with NULL
)


@pytest.fixture(scope="module")
def hist_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hist") / "digests")
    corpus = spark.createDataFrame(CORPUS, "doc_id int, text string")
    build_dedup_history(
        spark, corpus, root, ["text"], "doc_id", DomainSpec(num_shards=4), version=1
    )
    return root


def _flags(spark, root, **kw):
    batch = spark.createDataFrame(BATCH, "doc_id int, text string")
    out = filter_against_history(spark, batch, root, ["text"], **kw)
    return {r.doc_id: r.is_new for r in out.collect()}


def test_flags_match_python_replay(spark, hist_root):
    # plain replay: is_new <=> text not in the corpus (incl. the NULL row)
    seen = {t for _, t in CORPUS}
    want = {d: t not in seen for d, t in BATCH}
    got = _flags(spark, hist_root)
    assert got == want
    assert got[400] is False  # NULL matched the corpus NULL digest
    assert got[401] is True  # 'None' string is not NULL


def test_broadcast_and_shuffle_paths_agree(spark, hist_root, monkeypatch):
    broadcast = _flags(spark, hist_root)
    monkeypatch.setattr(history, "MAX_BROADCAST_ROWS", 0)
    assert _flags(spark, hist_root) == broadcast


def test_append_then_refilter_and_version_pin(spark, hist_root):
    batch = spark.createDataFrame(BATCH, "doc_id int, text string")
    new_rows = filter_against_history(spark, batch, hist_root, ["text"]).filter(
        "is_new"
    )
    v2 = append_dedup_history(
        spark, new_rows.drop("is_new"), hist_root, ["text"], "doc_id", version=2
    )
    assert v2 == 2
    # current version: everything in the batch is now seen
    after = _flags(spark, hist_root)
    assert not any(after.values())
    # pinned read of v1 still flags the new rows
    pinned = _flags(spark, hist_root, version=1)
    assert pinned == {d: t not in {t for _, t in CORPUS} for d, t in BATCH}


def test_history_side_never_shuffles_on_broadcast_path(spark, hist_root):
    batch = spark.createDataFrame(BATCH, "doc_id int, text string")
    out = filter_against_history(spark, batch, hist_root, ["text"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multi_column_keys(spark, tmp_path):
    root = str(tmp_path / "mc")
    corpus = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", None), (3, None, "x")],
        "id int, c1 string, c2 string",
    )
    build_dedup_history(
        spark, corpus, root, ["c1", "c2"], "id", DomainSpec(num_shards=2), version=1
    )
    batch = spark.createDataFrame(
        [(10, "a", "x"), (11, None, "x"), (12, "a", "y"), (13, "ax", None)],
        "id int, c1 string, c2 string",
    )
    got = {
        r.id: r.is_new
        for r in filter_against_history(spark, batch, root, ["c1", "c2"]).collect()
    }
    # (a,x) and (NULL,x) seen; (a,y) new; ('ax',NULL) must not collide
    # with ('a','x') or (NULL,'x') — null indicators are mixed in
    assert got == {10: False, 11: False, 12: True, 13: True}
