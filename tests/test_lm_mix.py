"""mix_corpus budget allocation and determinism; n-gram LM training
probabilities and log2 scoring vs python replays."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from elephantdb_spark.operators.lm import lm_log2_likelihood, train_ngram_lm
from elephantdb_spark.operators.sampling import mix_corpus


def _py_md5_u32(v, salt=""):
    return int(hashlib.md5(f"{v}{salt}".encode()).hexdigest()[:8], 16)


@pytest.fixture(scope="module")
def sourced(spark):
    rows = [
        (i, ["web", "books", "code"][i % 3], 100)  # 100 tokens per row
        for i in range(900)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, n_tokens long").cache()


def test_mix_corpus_matches_python(spark, sourced):
    budgets = {"web": 6000, "books": 30000, "code": 10**9}
    out = mix_corpus(sourced, "source", "doc_id", "n_tokens", budgets, "m1")
    got = {(r.source, r.doc_id) for r in out.select("source", "doc_id").collect()}
    # replay: each source has 300 rows * 100 tokens = 30000 total
    want = set()
    for i in range(900):
        src = ["web", "books", "code"][i % 3]
        rate = min(1.0, budgets[src] / 30000)
        if _py_md5_u32(i, "m1") < math.floor(rate * 2**32):
            want.add((src, i))
    assert got == want
    by_src = Counter(s for s, _ in got)
    assert by_src["code"] == 300  # rate capped at 1.0: everything kept
    assert by_src["books"] == 300  # budget == total
    assert 0.1 * 300 < by_src["web"] < 0.35 * 300  # ~20% rate
    # kept tokens land near the budget in expectation
    assert abs(by_src["web"] * 100 - budgets["web"]) < 3000


def test_mix_corpus_drops_unbudgeted_sources_and_validates(spark, sourced):
    out = mix_corpus(sourced, "source", "doc_id", "n_tokens", {"web": 10**9})
    assert {r.source for r in out.select("source").distinct().collect()} == {"web"}
    with pytest.raises(ValueError):
        mix_corpus(sourced, "source", "doc_id", "n_tokens", {})
    with pytest.raises(ValueError):
        mix_corpus(sourced, "source", "doc_id", "n_tokens", {"web": -1})
    # zero-token source: rate 0, dropped, no divide-by-zero
    zdf = spark.createDataFrame([(1, "empty", 0)], "doc_id long, source string, n_tokens long")
    assert mix_corpus(zdf, "source", "doc_id", "n_tokens", {"empty": 100}).count() == 0


LM_DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat ran"),
    (2, "The dog sat"),
    (3, ""),
    (4, "word"),
]


@pytest.fixture(scope="module")
def lm_corpus(spark):
    return spark.createDataFrame(LM_DOCS, "doc_id long, text string").cache()


def _py_bigrams(text):
    toks = [t.lower() for t in text.split()]
    return list(zip(toks, toks[1:]))


def test_train_ngram_lm_matches_python(spark, lm_corpus):
    counts = Counter(bg for _, t in LM_DOCS for bg in _py_bigrams(t))
    prefix_totals = defaultdict(int)
    for (p, _), c in counts.items():
        prefix_totals[p] += c
    got = {
        (r.prefix, r.next_token): (r.c, r.prob)
        for r in train_ngram_lm(lm_corpus, "text").collect()
    }
    want = {(p, nx): (c, c / prefix_totals[p]) for (p, nx), c in counts.items()}
    assert got == want
    # "the" is followed by cat(2) mat(1) dog(1): probs 0.5/0.25/0.25
    assert got[("the", "cat")] == (2, 0.5)
    # min_count prunes rows but keeps full-count denominators
    pruned = {
        (r.prefix, r.next_token): (r.c, r.prob)
        for r in train_ngram_lm(lm_corpus, "text", min_count=2).collect()
    }
    assert pruned == {("the", "cat"): (2, 0.5)}
    with pytest.raises(ValueError):
        train_ngram_lm(lm_corpus, "text", n=1)


def test_lm_log2_likelihood_matches_python(spark, lm_corpus):
    lm = train_ngram_lm(lm_corpus, "text")
    out = {
        r.doc_id: (r.n_ngrams, r.avg_log2_prob)
        for r in lm_log2_likelihood(lm_corpus, lm, "doc_id", "text").collect()
    }
    counts = Counter(bg for _, t in LM_DOCS for bg in _py_bigrams(t))
    prefix_totals = defaultdict(int)
    for (p, _), c in counts.items():
        prefix_totals[p] += c
    for doc_id, text in LM_DOCS:
        bgs = _py_bigrams(text)
        if not bgs:
            assert out[doc_id] == (0, None)
            continue
        lps = [math.log2(counts[bg] / prefix_totals[bg[0]]) for bg in bgs]
        n, avg = out[doc_id]
        assert n == len(bgs)
        assert avg == pytest.approx(sum(lps) / len(lps), abs=1e-12)
    # OOV n-grams take the floor penalty
    probe = spark.createDataFrame([(99, "zebra quux")], "doc_id long, text string")
    r = lm_log2_likelihood(probe, lm, "doc_id", "text", oov_log2=-20.0).collect()[0]
    assert (r.n_ngrams, r.avg_log2_prob) == (1, -20.0)
    # the planner broadcasts the small model side
    plan = (
        lm_log2_likelihood(lm_corpus, lm, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
