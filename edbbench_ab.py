"""Alternating parent/change A/B of one edbbench workload.

Usage::

    python3 edbbench_ab.py PARENT_DIR CHANGE_DIR --workload serve_cold \
        [--pairs 10] [--seed 1] [--out FILE]
    python3 edbbench_ab.py --summarize FILE

Each directory is a checkout (``git archive <commit> | tar -x -C DIR``).
Pair ``i`` runs ``edbbench/run.py --workload W --seed SEED+i --seconds
RUN_SECONDS --trace 0`` once in each checkout, RUN_SECONDS being
BENCHMARK.json's ``run_seconds``. The arm that runs first alternates
from pair to pair, because host load drifts over minutes and
back-to-back blocks of one arm would confound the comparison. The last stdout line of every
run (its result JSON) is kept in ``--out`` (default
``.edbbench/ab-<workload>.json``) after each pair, so an interrupted
series can still be summarized with ``--summarize``.

For every end-to-end metric of BENCHMARK.json the summary prints each
arm's median and quartiles, the per-pair change-vs-parent deltas, the
pairs the change won (ties count for neither) and a verdict:

* ``gain``: there are at least 10 pairs, the change won at least 9/10
  of them, its median is better than the parent's by more than the
  parent's interquartile range, and it failed no larger share of its
  operations than the parent;
* ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound;
* ``unresolved``: the parent's own spread (IQR over median) is wider than
  the bound, and not every change run beats every parent run;
* ``within bound``: otherwise.

It also prints each arm's failed/attempted operations. Exit code 0 once
a summary is printed, whatever it shows; nonzero for unusable input.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ARMS = ("parent", "change")
#: share of pairs the change must win for a gain
WIN_SHARE = 0.9
#: fewest pairs a gain can rest on
MIN_PAIRS = 10


def run_arm(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``checkout``; its result JSON, or
    ``{"error": ...}`` when the run fails or prints no JSON."""
    proc = subprocess.run(
        [sys.executable, "edbbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}: {proc.stderr[-400:]}"}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one sample is all three."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[dict], end_to_end: list[dict]) -> dict:
    """Per-metric comparison of the pairs whose two runs both succeeded.

    ``pairs`` items hold a result JSON under "parent" and "change";
    ``end_to_end`` is BENCHMARK.json's list (name, unit, better, bound).
    """
    ok = [p for p in pairs if all("metrics" in p[a] for a in ARMS)]
    out: dict = {"pairs": len(ok), "skipped": len(pairs) - len(ok),
                 "metrics": {}, "ops": {}}
    for arm in ARMS:
        out["ops"][arm] = {
            "failed": sum(p[arm].get("failed", 0) for p in ok),
            "attempted": sum(p[arm].get("attempted", 0) for p in ok),
        }
    if not ok:
        return out
    p_ops, c_ops = out["ops"]["parent"], out["ops"]["change"]
    # failed shares compared without dividing (attempted may be 0)
    fails_ok = c_ops["failed"] * p_ops["attempted"] <= (
        p_ops["failed"] * c_ops["attempted"]
    )
    for spec in end_to_end:
        name, bound = spec["name"], float(spec["bound"])
        sign = 1.0 if spec["better"] == "lower" else -1.0
        vals = {a: [float(p[a]["metrics"][name]["value"]) for p in ok] for a in ARMS}
        q = {a: quartiles(vals[a]) for a in ARMS}
        base_med, new_med = q["parent"][1], q["change"][1]
        deltas = [
            (c - b) / b if b else 0.0
            for b, c in zip(vals["parent"], vals["change"])
        ]
        won = sum(1 for d in deltas if sign * d < 0)
        iqr = q["parent"][2] - q["parent"][0]
        # worse-by, as a share of the parent's median (negative = better)
        worse = sign * (new_med - base_med) / base_med if base_med else 0.0
        spread = iqr / base_med if base_med else 0.0
        all_better = max(sign * v for v in vals["change"]) < min(
            sign * v for v in vals["parent"]
        )
        if (len(ok) >= MIN_PAIRS and fails_ok and won >= WIN_SHARE * len(ok)
                and sign * (base_med - new_med) > iqr):
            verdict = "gain"
        elif worse > bound:
            verdict = "regressed"
        elif spread > bound and not all_better:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        out["metrics"][name] = {
            "unit": spec.get("unit", ""), "bound": bound,
            "parent": q["parent"], "change": q["change"],
            "median_delta": (new_med - base_med) / base_med if base_med else 0.0,
            "pair_deltas": deltas, "won": won, "verdict": verdict,
        }
    return out


def format_summary(workload: str, s: dict) -> str:
    lines = [f"{workload}: {s['pairs']} pairs"
             + (f" ({s['skipped']} skipped: a run failed)" if s["skipped"] else "")]
    for name, m in s["metrics"].items():
        p, c = m["parent"], m["change"]
        lines.append(
            f"  {name} [{m['unit']}] parent {p[1]:.4g} ({p[0]:.4g}..{p[2]:.4g})"
            f" change {c[1]:.4g} ({c[0]:.4g}..{c[2]:.4g})"
            f" median {m['median_delta']:+.1%} won {m['won']}/{s['pairs']}"
            f" bound {m['bound']:.0%}: {m['verdict']}"
        )
        lines.append("    pairs " + " ".join(f"{d:+.1%}" for d in m["pair_deltas"]))
    for arm in ARMS:
        o = s["ops"][arm]
        lines.append(f"  ops {arm}: {o['failed']} failed of {o['attempted']}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--out", help="results file (default .edbbench/ab-<workload>.json)")
    ap.add_argument("--summarize", metavar="FILE",
                    help="summarize a results file instead of running")
    args = ap.parse_args(argv)

    if args.summarize:
        with open(args.summarize) as fh:
            saved = json.load(fh)
        s = summarize(saved["pairs"], saved["end_to_end"])
        print(format_summary(saved["workload"], s))
        return 0
    if not (args.parent and args.change and args.workload):
        ap.error("PARENT_DIR, CHANGE_DIR and --workload are required")
    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"--workload {args.workload} is not in BENCHMARK.json")
    seconds = bench["run_seconds"]
    out = args.out or os.path.join(HERE, ".edbbench", f"ab-{args.workload}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    dirs = {"parent": args.parent, "change": args.change}
    saved = {"workload": args.workload, "seconds": seconds,
             "end_to_end": bench["end_to_end"], "pairs": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ARMS if i % 2 == 0 else ARMS[::-1]
        pair = {"seed": seed, "first": order[0]}
        for arm in order:
            pair[arm] = run_arm(dirs[arm], args.workload, seed, seconds)
            print(f"pair {i + 1}/{args.pairs} seed {seed} {arm}: "
                  f"{pair[arm].get('error') or 'ok'}", file=sys.stderr)
        saved["pairs"].append(pair)
        with open(out, "w") as fh:
            json.dump(saved, fh)
    print(format_summary(args.workload, summarize(saved["pairs"], bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
