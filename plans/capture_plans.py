#!/usr/bin/env python
"""Capture .explain('formatted') for every declared query: writes
plans/<round>/<stage>/<query>.txt plus a one-line plan-shape summary per
query (``elephantdb_spark.plans.plan_summary``: Exchange count, join
strategies, Python-eval nodes, pushed filters, scans, sorts, windows) to
plans/<round>/<stage>_summary.tsv.

Usage: python plans/capture_plans.py <round> <stage> [sf_dir] [only_csv]
  round   e.g. "r20" (output directory under plans/)
  stage   e.g. "baseline" or "after"
  sf_dir  default testdata/sf0.001 beside the repository checkout
  only    optional comma-separated query names (default: all)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    round_name, stage = sys.argv[1], sys.argv[2]
    sf_dir = (
        sys.argv[3] if len(sys.argv) > 3
        else os.path.join(os.path.dirname(REPO), "testdata", "sf0.001")
    )
    only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
    round_dir = os.path.join(HERE, round_name)
    out_dir = os.path.join(round_dir, stage)
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry
    from elephantdb_spark.plans import plan_summary
    from elephantdb_spark.session import get_spark

    spark = get_spark(app_name=f"edb-plans-{round_name}-{stage}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    rows = []
    for name, fn in entry.queries().items():
        if only is not None and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            txt = plan_text(fn(spark, sf_dir))
            err = ""
        except Exception:
            txt = traceback.format_exc()
            err = "ERROR"
        dt = time.perf_counter() - t0
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(txt)
        s = plan_summary(txt) if not err else {}
        rows.append((name, err, round(dt, 2), s))
        print(name, err or s, flush=True)
    keys = list(plan_summary(""))
    with open(os.path.join(round_dir, f"{stage}_summary.tsv"), "w") as fh:
        fh.write("query\terr\tplan_sec\t" + "\t".join(keys) + "\n")
        for name, err, dt, s in rows:
            fh.write(
                name + "\t" + err + "\t" + str(dt) + "\t"
                + "\t".join(str(s.get(k, "")) for k in keys) + "\n"
            )
    spark.stop()


if __name__ == "__main__":
    main()
