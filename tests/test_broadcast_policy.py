"""Broadcast policy: the planner picks broadcast or shuffle, and every
forced ``F.broadcast`` left in the package has a size bound behind it.

* The five corpus operators in ``OPERATORS`` join a side whose size
  grows with the corpus (a vocabulary, a hot set, a benchmark, a model).
  They carry no broadcast hint: under the session's
  ``autoBroadcastJoinThreshold`` the planner broadcasts, and with the
  threshold off it sort-merge joins — with identical rows either way. A
  forced hint would ignore the threshold and keep the broadcast.
* The planner's choice follows Catalyst's estimate, not the real size:
  ``test_lm_join_follows_the_model_estimate`` shows a model built in the
  plan estimated at its training corpus's size, and the same model read
  back from storage estimated at its stored size.
* ``decontaminate`` keeps its forced broadcast of the contaminated ids:
  their estimate follows the corpus, and without the hint the corpus
  side would shuffle every document on the id.
* ``test_forced_broadcasts_are_allowlisted`` lists every
  ``F.broadcast(...)`` call in ``elephantdb_spark/`` and compares it with
  an allowlist that names what bounds each side, so a new unbounded
  forced broadcast fails here.
"""

from __future__ import annotations

import ast
import collections
import contextlib
import pathlib

import pytest

from elephantdb_spark.operators.dedup import (
    repeated_span_profile,
    strip_duplicate_lines,
)
from elephantdb_spark.operators.lm import lm_log2_likelihood, train_ngram_lm
from elephantdb_spark.operators.quality import (
    contamination_hits,
    decontaminate,
    tfidf_topk,
)
from elephantdb_spark.pinning import release_pins

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "elephantdb_spark"

_SHARED = "this shared passage is copied verbatim into several documents"
DOCS = [
    (i, f"doc {i} opening line\n{_SHARED}\nfooter boilerplate\nunique tail {i} "
        f"{'alpha beta' if i % 2 else 'gamma delta'} words")
    for i in range(8)
]
BENCH = [(100, "unique tail 3 alpha beta"), (101, "doc 4 opening line")]


def _corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _bench(spark):
    return spark.createDataFrame(BENCH, "doc_id long, text string")


OPERATORS = {
    "strip_duplicate_lines": lambda s: strip_duplicate_lines(
        _corpus(s), "doc_id", "text", max_line_docs=2
    ),
    "repeated_span_profile": lambda s: repeated_span_profile(
        _corpus(s), "doc_id", "text", gram_chars=20, stride=10
    ),
    "contamination_hits": lambda s: contamination_hits(
        _corpus(s), _bench(s), "doc_id", "text", ngram_len=3
    ),
    "tfidf_topk": lambda s: tfidf_topk(_corpus(s), "doc_id", "text", k=2),
    "lm_log2_likelihood": lambda s: lm_log2_likelihood(
        _corpus(s), train_ngram_lm(_corpus(s), "text", n=2), "doc_id", "text"
    ),
}


THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _threshold(spark, value):
    before = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, before)


def _run(df):
    """(sorted rows, final executed plan) of one operator call. Doubles
    are rounded: a sort-merge join may sum a group in another order."""
    rows = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_pins()
    return rows, plan


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_planner_picks_broadcast_or_shuffle(spark, name):
    rows, plan = _run(OPERATORS[name](spark))
    assert rows
    assert "BroadcastHashJoin" in plan
    with _threshold(spark, -1):
        rows_s, plan_s = _run(OPERATORS[name](spark))
    assert "SortMergeJoin" in plan_s
    assert "BroadcastHashJoin" not in plan_s
    assert rows_s == rows


def _estimate(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _initial_plan(df) -> str:
    """The executed plan before any action: AQE's initial plan, which
    holds the static join choice."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_lm_join_follows_the_model_estimate(spark, tmp_path):
    # 2000 docs over a 12-word vocabulary: the pruned bigram table is
    # tiny, the training corpus is not
    words = [f"w{i}" for i in range(12)]
    corpus = spark.createDataFrame(
        [(i, " ".join(words[(i * j) % 12] for j in range(60))) for i in range(2000)],
        "doc_id long, text string",
    )
    lm = train_ngram_lm(corpus, "text", n=2, min_count=2)
    lm.write.parquet(str(tmp_path / "lm"))
    stored = spark.read.parquet(str(tmp_path / "lm"))
    in_plan, on_disk = _estimate(lm), _estimate(stored)
    assert on_disk * 10 < in_plan
    probe = corpus.limit(50)
    with _threshold(spark, (in_plan + on_disk) // 2):
        built = lm_log2_likelihood(probe, lm, "doc_id", "text")
        read_back = lm_log2_likelihood(probe, stored, "doc_id", "text")
        assert "SortMergeJoin" in _initial_plan(built)
        assert "BroadcastHashJoin" in _initial_plan(read_back)
        assert "SortMergeJoin" not in _initial_plan(read_back)
        assert _run(built)[0] == _run(read_back)[0]


def test_decontaminate_broadcasts_hits_without_shuffling_the_corpus(spark):
    def clean():
        return decontaminate(_corpus(spark), _bench(spark), "doc_id", "text", ngram_len=3)

    rows, _ = _run(clean())
    assert 0 < len(rows) < len(DOCS)
    with _threshold(spark, -1):
        rows_s, plan_s = _run(clean())
    assert rows_s == rows
    assert "LeftAnti, BuildRight" in plan_s
    assert "Exchange hashpartitioning(doc_id#" not in plan_s


# (file under elephantdb_spark/, outermost enclosing function or method,
# the broadcast argument's source) -> what bounds the broadcast side
ALLOWED = {
    ("engine.py", "multi_get_df", "matched"):
        "the multi_get key set: at most len(keys) rows",
    ("engine.py", "bulk_join", "cuts_df"):
        "cut table: num_shards x tasks_per_shard rows",
    ("sharding.py", "with_slot_column", "slots_df"):
        "slot table: one row per shard",
    ("operators/ann_index.py", "update_ivf_index", "assigned.select(id_col)"):
        "ids of the update batch, whose cell set is already collected",
    ("operators/components.py", "dedup_by_components", "drop"):
        "detector-bounded drop-set; broadcast_drop=False shuffles",
    ("pipeline.py", "clean_corpus", "losers"):
        "detector-bounded loser set; broadcast_losers=False shuffles",
    ("operators/curation.py", "cap_per_source",
     "over.withColumnRenamed(source_col, '__src').withColumn('__thresh', "
     "F.least(F.lit(float(_HASH_SPACE)), F.lit(margin * cap) / F.col('__n') "
     "* F.lit(float(_HASH_SPACE))))"):
        "one row per over-cap source",
    ("operators/curation.py", "cap_per_source", "fallback_srcs"):
        "subset of the over-cap sources",
    ("operators/curation.py", "encode_documents",
     "vocab.select('token', 'token_id')"):
        "tokenizer vocabulary, capped by build_vocab's max_size/min_count",
    ("operators/dedup.py", "_drop_hot_shingles",
     "freq.filter(F.col('f') > max_shingle_freq)"):
        "hot shingles: at most postings / max_shingle_freq rows",
    ("operators/dedup.py", "jaccard_shingle_pairs",
     "freq.filter(F.col('f') > max_shingle_freq)"):
        "hot shingles: at most postings / max_shingle_freq rows",
    ("operators/history.py", "filter_against_history",
     "keyed.select(F.col('__k').alias('key')).distinct()"):
        "batch digests, counted first: at most MAX_BROADCAST_ROWS rows",
    ("operators/history.py", "filter_against_history", "hits"):
        "history hits: a subset of the counted batch digests",
    ("operators/quality.py", "decontaminate", "hits"):
        "contaminated doc ids: one per doc sharing a benchmark n-gram",
    ("operators/quality.py", "tfidf_topk", "n_docs"): "1-row stats frame",
    ("operators/retrieval.py", "bm25_topk", "qtokens"): "the query terms",
    ("operators/retrieval.py", "bm25_topk", "dfreq"):
        "document frequencies of the query terms only",
    ("operators/retrieval.py", "bm25_topk", "qterms"): "the query terms",
    ("operators/retrieval.py", "bm25_topk", "stats"): "1-row stats frame",
    ("operators/sampling.py", "mix_corpus", "totals"):
        "one row per source",
    ("relational.py", "q39_join_agg_sort_limit", "nation"): "TPC-H nation: 25 rows",
    ("relational.py", "q42_local_supplier_volume", "supp"):
        "TPC-H supplier: 10k rows per scale factor",
    ("relational.py", "q42_local_supplier_volume", "nation"): "TPC-H nation: 25 rows",
    ("relational.py", "q42_local_supplier_volume",
     "region.filter(F.col('r_name') == 'ASIA')"): "TPC-H region: 1 of 5 rows",
    ("relational.py", "q44_promo_revenue", "part"):
        "TPC-H part: 200k rows per scale factor",
    ("relational.py", "q52_anti_join", "nation"): "TPC-H nation: 25 rows",
    ("relational.py", "q53_nation_volume_shipping", "supp"):
        "TPC-H supplier: 10k rows per scale factor",
    ("relational.py", "q53_nation_volume_shipping", "n1"): "TPC-H nation: 25 rows",
    ("relational.py", "q53_nation_volume_shipping", "n2"): "TPC-H nation: 25 rows",
    ("relational.py", "q55_returned_item_reporting", "nation"):
        "TPC-H nation: 25 rows",
    ("relational.py", "q87_product_type_profit", "widgets"):
        "TPC-H part filtered to widgets",
    ("relational.py", "q87_product_type_profit", "supplier"):
        "TPC-H supplier: 10k rows per scale factor",
    ("relational.py", "q87_product_type_profit", "nation"): "TPC-H nation: 25 rows",
    ("relational.py", "q88_top_supplier", "top"): "1-row max frame",
    ("relational.py", "q88_top_supplier", "supplier"):
        "TPC-H supplier: 10k rows per scale factor",
    ("relational.py", "q89_red_parts_heavy_shippers", "red"):
        "TPC-H part filtered to red parts",
    ("relational.py", "q89_red_parts_heavy_shippers", "avg"): "1-row average frame",
}
# sites that occur more than once in their function
REPEATS = {("operators/curation.py", "cap_per_source", "fallback_srcs"): 2}


def _forced_broadcasts() -> collections.Counter:
    """(file, outermost function or method, argument source) of every
    ``F.broadcast(...)`` call in the package, with multiplicity."""
    found = collections.Counter()

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn is None:
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        ):
            found[(rel, fn, ast.unparse(node.args[0]))] += 1
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for path in sorted(PACKAGE.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(PACKAGE).as_posix(), None)
    return found


def test_forced_broadcasts_are_allowlisted():
    want = collections.Counter({site: REPEATS.get(site, 1) for site in ALLOWED})
    got = _forced_broadcasts()
    assert got == want, (
        f"unlisted forced broadcasts: {sorted(got - want)}; "
        f"allowlisted but gone: {sorted(want - got)}"
    )
