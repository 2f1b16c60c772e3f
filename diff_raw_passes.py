"""Per-entry diff of two round-stamped bench raw-passes artifacts.

The round-stamped ``BENCH_raw_passes_r{N}*.json`` chain (bench.py,
r10) exists so driver-run per-query history survives across rounds;
this tool is the consumer.

Usage::

    python diff_raw_passes.py OLD.json NEW.json [--band 1.5] [--json]

Prints one line per common entry — old sec, new sec, new/old ratio —
sorted worst-first, then a summary: total ratio, entries outside the
noise band in each direction, and both runs' recorded loadavg
provenance.  On a host with CPU steal, wall time moves 2-5x run to
run, so the wall diff is a first triage signal only.  When both files
carry bench.py's per-entry ``work`` rows, the tool also prints each
entry's work deltas (stages, tasks, executor CPU seconds, shuffle
write and spill bytes): counts and bytes do not depend on the host,
and CPU seconds leave out stolen time.  Files written before the rows
existed still diff wall times, and the report says work is absent.
Claims of a gain are judged with ``edbbench_ab.py``.

Exit code 0 on a completed comparison regardless of what it shows
(evidence tooling, not a gate); nonzero only for unusable inputs (a
missing/unreadable file, no ``queries`` map, bad flags).
"""
from __future__ import annotations

import argparse
import json
import sys


def load_queries(path: str) -> tuple[dict[str, float], dict | None, dict]:
    """(queries, work or None, provenance) of one raw-passes file."""
    with open(path) as fh:
        data = json.load(fh)
    queries = data.get("queries")
    if not isinstance(queries, dict):
        raise SystemExit(f"{path}: no 'queries' map (not a raw-passes file?)")
    work = data.get("work")
    return (
        {k: float(v) for k, v in queries.items()},
        work if isinstance(work, dict) else None,
        data.get("provenance", {}),
    )


def diff(old: dict[str, float], new: dict[str, float], band: float) -> dict:
    common = sorted(set(old) & set(new))
    rows = []
    raw_ratio: dict[str, float] = {}
    for name in common:
        o, n = old[name], new[name]
        # a 0.0 old timing (sub-0.5 ms entries round to 0.000) has no
        # finite ratio; None keeps the --json output RFC-8259-valid
        # (json.dump would otherwise emit the non-standard Infinity)
        if o > 0:
            raw_ratio[name] = n / o
        # the band compare below uses the UNROUNDED ratio (ADVICE r17:
        # a true 1.5004 rounds to 1.500 and silently escaped
        # slower_than_band); round(…,3) stays display/serialization-only
        ratio = round(raw_ratio[name], 3) if o > 0 else None
        rows.append({"entry": name, "old": o, "new": n, "ratio": ratio})
    # worst-first (by the unrounded ratio); incomparable (None-ratio)
    # rows lead — they need eyes
    rows.sort(
        key=lambda r: (
            r["ratio"] is not None, -raw_ratio.get(r["entry"], 0.0)
        )
    )
    total_old = sum(old[n] for n in common)
    total_new = sum(new[n] for n in common)
    return {
        "common_entries": len(common),
        "only_old": sorted(set(old) - set(new)),
        "only_new": sorted(set(new) - set(old)),
        "total_old_sec": round(total_old, 3),
        "total_new_sec": round(total_new, 3),
        "total_ratio": round(total_new / total_old, 3) if total_old else None,
        "incomparable": [r for r in rows if r["ratio"] is None],
        "slower_than_band": [
            r for r in rows
            if r["entry"] in raw_ratio and raw_ratio[r["entry"]] > band
        ],
        "faster_than_band": [
            r for r in rows
            if r["entry"] in raw_ratio
            and raw_ratio[r["entry"]] < 1.0 / band
        ],
        "entries": rows,
    }


#: work fields diffed per entry, in report order (bench.py's work rows)
WORK_FIELDS = (
    "stages", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
)


def work_diff(old: dict, new: dict) -> list[dict]:
    """Per-entry deltas (new - old) of WORK_FIELDS over the entries both
    ``work`` maps carry.  Largest executor-CPU increase first, entry
    name breaking ties, so the order is stable."""
    rows = []
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        rows.append({
            "entry": name,
            "old": {f: o[f] for f in WORK_FIELDS},
            "new": {f: n[f] for f in WORK_FIELDS},
            "delta": {f: round(n[f] - o[f], 3) for f in WORK_FIELDS},
        })
    rows.sort(key=lambda r: (-r["delta"]["executor_cpu_s"], r["entry"]))
    return rows


def _signed(v) -> str:
    return f"{v:+d}" if isinstance(v, int) else f"{v:+.3f}"


def main(argv: list[str] | None = None) -> None:
    try:  # die quietly under `| head` instead of BrokenPipeError noise
        import signal

        signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    except (ImportError, AttributeError, ValueError):
        pass  # no SIGPIPE (non-POSIX) or non-main thread (tests)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--band", type=float, default=1.5,
        help="noise band: |ratio| beyond this is flagged (default 1.5; "
        "the host's measured external-tenant variance — SCALE.md)",
    )
    ap.add_argument(
        "--json", action="store_true",
        help="emit the full diff object as one JSON document",
    )
    args = ap.parse_args(argv)
    old_q, old_work, old_prov = load_queries(args.old)
    new_q, new_work, new_prov = load_queries(args.new)
    d = diff(old_q, new_q, args.band)
    d["work_absent"] = [
        side for side, w in (("old", old_work), ("new", new_work)) if w is None
    ]
    d["work"] = (
        None if d["work_absent"] else work_diff(old_work, new_work)
    )
    if args.json:
        d["provenance"] = {"old": old_prov, "new": new_prov}
        json.dump(d, sys.stdout, indent=1)
        print()
        return
    print(f"old: {args.old}  loadavg_before={old_prov.get('loadavg_before')} "
          f"after={old_prov.get('loadavg_after')} passes={old_prov.get('pass_count')}")
    print(f"new: {args.new}  loadavg_before={new_prov.get('loadavg_before')} "
          f"after={new_prov.get('loadavg_after')} passes={new_prov.get('pass_count')}")
    print(f"common entries: {d['common_entries']}  "
          f"total {d['total_old_sec']} -> {d['total_new_sec']} s "
          f"(ratio {d['total_ratio']})")
    if d["only_old"]:
        print(f"dropped entries: {', '.join(d['only_old'])}")
    if d["only_new"]:
        print(f"new entries: {', '.join(d['only_new'])}")
    for r in d["entries"]:
        if r["ratio"] is None:
            print(f"{r['entry']:42s} {r['old']:9.3f} {r['new']:9.3f} "
                  f"x--       << old is 0, no ratio")
            continue
        flag = ""
        if r["ratio"] > args.band:
            flag = "  << slower than band"
        elif r["ratio"] < 1.0 / args.band:
            flag = "  << faster than band"
        print(f"{r['entry']:42s} {r['old']:9.3f} {r['new']:9.3f} "
              f"x{r['ratio']:<7.3f}{flag}")
    if d["work"] is None:
        print(f"work: absent in {' and '.join(d['work_absent'])} "
              f"(no per-entry work rows; wall diff only)")
        return
    print(f"work deltas (new - old) over {len(d['work'])} common entries:")
    print(f"{'entry':42s} " + " ".join(f"{f:>20s}" for f in WORK_FIELDS))
    for r in d["work"]:
        print(f"{r['entry']:42s} " + " ".join(
            f"{_signed(r['delta'][f]):>20s}" for f in WORK_FIELDS
        ))


if __name__ == "__main__":
    main()
