"""Tests for edbbench_ab.py's summary: medians, quartiles, per-pair
deltas, pairs won and the verdict rules (no benchmark run, no Spark)."""
from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_TOOL_PATH = os.path.join(os.path.dirname(__file__), "..", "edbbench_ab.py")

E2E = [
    {"name": "read_cpu_ms_per_call", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "peak_rss_mib", "unit": "MiB", "better": "lower", "bound": 0.1},
    {"name": "keys_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
]


@pytest.fixture(scope="module")
def tool():
    spec = importlib.util.spec_from_file_location("ab_under_test", _TOOL_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["ab_under_test"] = mod
    spec.loader.exec_module(mod)
    yield mod
    sys.modules.pop("ab_under_test", None)


def _run(failed=0, **metrics):
    return {"correct": True, "attempted": 100, "failed": failed,
            "metrics": {k: {"value": v, "unit": ""} for k, v in metrics.items()}}


def _pairs(parent_cpu, change_cpu, parent_rss, change_rss, parent_kps, change_kps):
    return [
        {"seed": i, "first": "parent" if i % 2 == 0 else "change",
         "parent": _run(read_cpu_ms_per_call=pc, peak_rss_mib=pr, keys_per_s=pk),
         "change": _run(read_cpu_ms_per_call=cc, peak_rss_mib=cr, keys_per_s=ck)}
        for i, (pc, cc, pr, cr, pk, ck) in enumerate(zip(
            parent_cpu, change_cpu, parent_rss, change_rss, parent_kps, change_kps))
    ]


def test_summary_gain_regression_and_within_bound(tool):
    n = 10
    parent_cpu = [50.0 + i % 3 for i in range(n)]  # 50..52
    change_cpu = [34.0 + i % 3 for i in range(n)]
    change_cpu[3] = 60.0  # one lost pair: 9/10 still a gain
    parent_rss = [100.0] * n
    change_rss = [112.0] * n  # +12 % > the 10 % bound
    parent_kps = [1000.0 + i for i in range(n)]
    change_kps = [1002.0 + i for i in range(n)]  # +0.2 %, inside the IQR
    s = tool.summarize(
        _pairs(parent_cpu, change_cpu, parent_rss, change_rss, parent_kps, change_kps),
        E2E,
    )
    assert s["pairs"] == n and s["skipped"] == 0
    cpu = s["metrics"]["read_cpu_ms_per_call"]
    assert cpu["parent"][1] == 51.0 and cpu["change"][1] == 35.0
    assert cpu["won"] == 9 and cpu["verdict"] == "gain"
    assert cpu["pair_deltas"][0] == pytest.approx(34 / 50 - 1)
    assert cpu["median_delta"] == pytest.approx(35 / 51 - 1)
    rss = s["metrics"]["peak_rss_mib"]
    assert rss["won"] == 0 and rss["verdict"] == "regressed"
    kps = s["metrics"]["keys_per_s"]  # higher is better: every pair won,
    assert kps["won"] == n  # but 2/s is inside the parent's IQR
    assert kps["verdict"] == "within bound"
    assert s["ops"]["parent"] == {"failed": 0, "attempted": 100 * n}


def test_summary_unresolved_ties_and_skipped_pairs(tool):
    # the parent spreads wider than the bound; the change is no better
    parent = [40.0, 60.0, 40.0, 60.0]
    change = [45.0, 55.0, 50.0, 60.0]
    flat = [1.0] * 4
    pairs = _pairs(parent, change, flat, flat, flat, flat)
    pairs.append({"seed": 9, "first": "parent", "parent": _run(),
                  "change": {"error": "exit 1: boom"}})
    s = tool.summarize(pairs, E2E)
    assert s["pairs"] == 4 and s["skipped"] == 1
    assert s["metrics"]["read_cpu_ms_per_call"]["verdict"] == "unresolved"
    rss = s["metrics"]["peak_rss_mib"]  # all ties: won by neither arm
    assert rss["won"] == 0 and rss["verdict"] == "within bound"
    # every change run beating every parent run resolves a wide spread
    better = tool.summarize(_pairs(parent, [30.0] * 4, flat, flat, flat, flat), E2E)
    assert better["metrics"]["read_cpu_ms_per_call"]["verdict"] != "unresolved"


def test_gain_needs_ten_pairs_and_no_more_failures(tool):
    """A clear win is not a gain on fewer than 10 pairs, nor when the
    change fails a larger share of its operations than the parent."""
    def cpu_pairs(n, change_failed=0):
        pairs = _pairs([50.0 + i % 3 for i in range(n)], [34.0] * n,
                       [1.0] * n, [1.0] * n, [1.0] * n, [1.0] * n)
        pairs[0]["change"]["failed"] = change_failed
        return pairs

    def verdict(pairs):
        return tool.summarize(pairs, E2E)["metrics"]["read_cpu_ms_per_call"]["verdict"]

    assert verdict(cpu_pairs(10)) == "gain"
    assert verdict(cpu_pairs(9)) == "within bound"  # won 9/9, too few pairs
    failing = cpu_pairs(10, change_failed=1)
    assert tool.summarize(failing, E2E)["ops"]["change"]["failed"] == 1
    assert verdict(failing) == "within bound"
    failing[1]["parent"]["failed"] = 1  # the same share as the parent
    assert verdict(failing) == "gain"


def test_summarize_saved_file(tool, tmp_path, capsys):
    pairs = _pairs([10.0, 11.0], [9.0, 10.0], [1.0, 1.0], [1.0, 1.0],
                   [5.0, 5.0], [5.0, 5.0])
    path = tmp_path / "ab.json"
    path.write_text(json.dumps({"workload": "serve_cold", "seconds": 20,
                                "end_to_end": E2E, "pairs": pairs}))
    assert tool.main(["--summarize", str(path)]) == 0
    out = capsys.readouterr().out
    assert out.startswith("serve_cold: 2 pairs")
    assert "read_cpu_ms_per_call [ms] parent 10.5" in out
    assert "won 2/2" in out and "ops change: 0 failed of 200" in out
    assert "gain" not in out  # two pairs are too few for one
