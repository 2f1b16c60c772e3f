"""Plan-inspection utilities verified against known plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from elephantdb_spark.plans import (
    broadcast_join_count,
    count_exchanges,
    plan_summary,
    pushed_filters,
    scan_locations,
    sortmerge_join_count,
    whole_stage_codegen_spans,
)

SF = "/root/testdata/sf0.001"


def test_exchange_counting(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    no_shuffle = li.select("l_orderkey").filter(F.col("l_orderkey") > 0)
    assert count_exchanges(no_shuffle) == 0
    one_shuffle = li.groupBy("l_returnflag").count()
    assert count_exchanges(one_shuffle) >= 1
    # codegen annotations exist only once the adaptive plan has executed
    assert whole_stage_codegen_spans(one_shuffle) == 0
    one_shuffle.collect()
    assert whole_stage_codegen_spans(one_shuffle) >= 1


def test_broadcast_vs_sortmerge_detection(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    bcast = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert broadcast_join_count(bcast) == 1
    assert sortmerge_join_count(bcast) == 0
    hint_merge = cust.hint("merge").join(
        orders.hint("merge"), cust.c_custkey == orders.o_custkey
    )
    assert sortmerge_join_count(hint_merge) == 1


def test_pushed_filters_and_locations(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    q = cust.filter(F.col("c_custkey") == 42).select("c_name")
    pushed = pushed_filters(q)
    assert any("EqualTo(c_custkey,42)" in p for p in pushed), pushed
    locs = scan_locations(q)
    assert locs and "customer.parquet" in locs[0]


#: A formatted explain: the node tree, a blank line, then numbered node
#: details. No Spark session needed.
FORMATTED_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (10)
+- Sort (9)
   +- Exchange (8)
      +- Window (7)
         +- BroadcastHashJoin Inner BuildRight (6)
            :- Scan parquet  (1)
            +- BroadcastExchange (5)
               +- ArrowEvalPython (4)
                  +- Exchange (3)
                     +- Scan parquet  (2)


(1) Scan parquet 
PushedFilters: [IsNotNull(k)]

(2) Scan parquet 
PushedFilters: []

(3) Exchange
Arguments: hashpartitioning(k#1, 8)

(7) Window
Arguments: [row_number()]

(9) Sort
Arguments: [k#1 ASC NULLS FIRST], false, 0
"""


def test_plan_summary_counting_rule():
    """The counts behind the committed plans/<round>/*_summary.tsv files:
    Exchanges from the tree block only (BroadcastExchange and the
    details section excluded), pushed filters only when non-empty, Sort
    and Window by their numbered details headers, everything else by
    occurrence in the whole text."""
    assert plan_summary(FORMATTED_PLAN) == {
        "exchanges": 2, "bhj": 1, "smj": 0, "shj": 0, "bnl": 0,
        "cartesian": 0, "batch_py": 0, "arrow_py": 1, "map_pandas": 0,
        "pushed": 1, "scans": 4, "sorts": 1, "window": 1,
    }



#: The same plan shape as the executed tree string and as a formatted
#: explain: two shuffle Exchanges, one BroadcastExchange and one
#: ReusedExchange (whose executed line embeds the Exchange it reuses).
EXECUTED_REUSE_PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- SortMergeJoin [k#1], [k#7], Inner
   :- Sort [k#1 ASC NULLS FIRST], false, 0
   :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
   :     +- BroadcastHashJoin [k#1], [n#3], Inner, BuildRight, false
   :        :- FileScan parquet [k#1] Batched: true
   :        +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, int, false]),false), [plan_id=5]
   :           +- FileScan parquet [n#3] Batched: true
   +- Sort [k#7 ASC NULLS FIRST], false, 0
      +- ReusedExchange [k#7], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
"""

FORMATTED_REUSE_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (10)
+- SortMergeJoin Inner (9)
   :- Sort (5)
   :  +- Exchange (4)
   :     +- BroadcastHashJoin Inner BuildRight (3)
   :        :- Scan parquet  (1)
   :        +- BroadcastExchange (2)
   :           +- Scan parquet  (1b)
   +- Sort (8)
      +- ReusedExchange (7)


(4) Exchange
Arguments: hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]

(7) ReusedExchange [Reuses operator id: 4]
Output [1]: [k#7]
"""


def test_exchange_rule_skips_broadcast_and_reused_exchanges():
    """count_exchanges (executed text) and plan_summary (formatted text)
    share one rule: only nodes named exactly Exchange count, never a
    BroadcastExchange, a ReusedExchange, or the reused Exchange its
    executed line embeds, nor the formatted details section."""
    from elephantdb_spark.plans import _exchange_nodes

    assert _exchange_nodes(EXECUTED_REUSE_PLAN) == 1
    assert plan_summary(FORMATTED_REUSE_PLAN)["exchanges"] == 1
