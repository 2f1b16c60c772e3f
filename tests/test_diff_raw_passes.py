"""Tests for diff_raw_passes.py — the per-entry raw-passes comparator
(r10 VERDICT next-round item 3: the round-stamped artifact chain makes
driver-to-driver per-entry diffs possible; this tool consumes it)."""
from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_TOOL_PATH = os.path.join(os.path.dirname(__file__), "..", "diff_raw_passes.py")


@pytest.fixture(scope="module")
def tool():
    spec = importlib.util.spec_from_file_location("diff_under_test", _TOOL_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["diff_under_test"] = mod
    spec.loader.exec_module(mod)
    yield mod
    sys.modules.pop("diff_under_test", None)


def test_diff_ratios_and_band(tool):
    old = {"a": 1.0, "b": 2.0, "c": 0.5, "gone": 1.0}
    new = {"a": 1.1, "b": 4.0, "c": 0.25, "added": 9.9}
    d = tool.diff(old, new, band=1.5)
    assert d["common_entries"] == 3
    assert d["only_old"] == ["gone"]
    assert d["only_new"] == ["added"]
    by_name = {r["entry"]: r for r in d["entries"]}
    assert by_name["a"]["ratio"] == 1.1
    assert by_name["b"]["ratio"] == 2.0
    assert by_name["c"]["ratio"] == 0.5
    assert [r["entry"] for r in d["slower_than_band"]] == ["b"]
    assert [r["entry"] for r in d["faster_than_band"]] == ["c"]
    # totals over COMMON entries only (added/dropped don't skew the ratio)
    assert d["total_old_sec"] == 3.5
    assert d["total_new_sec"] == 5.35
    # entries sorted worst-first
    assert [r["entry"] for r in d["entries"]] == ["b", "a", "c"]


def test_diff_zero_old_entry_is_incomparable_and_json_valid(tool, tmp_path, capsys):
    """A 0.0 old timing (sub-0.5 ms entries round to 0.000) must not
    produce float('inf') — json.dump would emit the non-RFC-8259
    `Infinity` literal, which jq/JS JSON.parse reject.  The row is
    reported as incomparable (null ratio) and leads the listing."""
    d = tool.diff({"a": 0.0, "b": 1.0}, {"a": 1.0, "b": 3.0}, band=1.5)
    by_name = {r["entry"]: r for r in d["entries"]}
    assert by_name["a"]["ratio"] is None
    assert [r["entry"] for r in d["incomparable"]] == ["a"]
    # incomparable rows lead, then finite worst-first
    assert [r["entry"] for r in d["entries"]] == ["a", "b"]
    # --json output must be strict-parseable end to end
    for name, q in (("old.json", {"a": 0.0}), ("new.json", {"a": 1.0})):
        (tmp_path / name).write_text(json.dumps({"queries": q}))
    tool.main([str(tmp_path / "old.json"), str(tmp_path / "new.json"),
               "--json"])
    out = capsys.readouterr().out
    parsed = json.loads(out, parse_constant=lambda c: pytest.fail(
        f"non-RFC JSON constant {c!r} in --json output"
    ))
    assert parsed["entries"][0]["ratio"] is None
    # text mode renders the no-ratio row without crashing on formatting
    tool.main([str(tmp_path / "old.json"), str(tmp_path / "new.json")])
    assert "old is 0, no ratio" in capsys.readouterr().out


def test_load_queries_rejects_non_raw_passes(tool, tmp_path):
    p = tmp_path / "not_raw.json"
    p.write_text(json.dumps({"metric": "total_bench_sec", "value": 1.0}))
    with pytest.raises(SystemExit):
        tool.load_queries(str(p))


def test_main_text_output_on_real_shapes(tool, tmp_path, capsys):
    for name, scale in (("old.json", 1.0), ("new.json", 1.4)):
        (tmp_path / name).write_text(json.dumps({
            "queries": {"q_fast": 0.1 * scale, "q_slow": 2.0 * scale},
            "provenance": {"loadavg_before": [1.0, 1.0, 1.0],
                           "loadavg_after": [2.0, 2.0, 2.0],
                           "pass_count": 3},
        }))
    tool.main([str(tmp_path / "old.json"), str(tmp_path / "new.json")])
    out = capsys.readouterr().out
    assert "common entries: 2" in out
    assert "ratio 1.4" in out
    assert "q_slow" in out


def test_main_json_output_parses(tool, tmp_path, capsys):
    for name in ("old.json", "new.json"):
        (tmp_path / name).write_text(json.dumps({
            "queries": {"q": 1.0}, "provenance": {"pass_count": 1},
        }))
    tool.main([str(tmp_path / "old.json"), str(tmp_path / "new.json"),
               "--json"])
    d = json.loads(capsys.readouterr().out)
    assert d["total_ratio"] == 1.0
    assert d["provenance"]["old"]["pass_count"] == 1


def test_diff_band_compares_unrounded_ratio(tool):
    """ADVICE r17: a true ratio of 1.5004 rounds to 1.500 for display,
    but the band compare must use the unrounded value — the rounded
    form silently escaped slower_than_band."""
    old = {"a": 10000.0, "b": 10000.0}
    new = {"a": 15004.0, "b": 14996.0}  # ratios 1.5004 / 1.4996
    d = tool.diff(old, new, band=1.5)
    assert [r["entry"] for r in d["slower_than_band"]] == ["a"]
    # display stays 3-decimal rounded
    by_name = {r["entry"]: r for r in d["entries"]}
    assert by_name["a"]["ratio"] == 1.5
    # mirror direction: 1/1.5004 < 1/1.5 must flag, 1/1.4996 must not
    d2 = tool.diff(new, old, band=1.5)
    assert [r["entry"] for r in d2["faster_than_band"]] == ["a"]




# ---- per-entry work deltas (bench.py's work rows) ----


def _work_row(stages, tasks, cpu, shuffle, spill):
    return {"stages": stages, "tasks": tasks, "executor_cpu_s": cpu,
            "executor_run_s": cpu * 2, "shuffle_write_bytes": shuffle,
            "spill_bytes": spill, "wall_s": 1.0, "driver_cpu_s": 0.1,
            "jvm_cpu_s": cpu}


def _work_file(tmp_path, name, work):
    f = tmp_path / name
    f.write_text(json.dumps({
        "queries": {k: 1.0 for k in work},
        "work": work,
        "provenance": {"pass_count": 3},
    }))
    return str(f)


def test_work_deltas_per_entry_in_stable_order(tool, tmp_path, capsys):
    old = _work_file(tmp_path, "old.json", {
        "build": _work_row(4, 40, 2.0, 1000, 0),
        "probe": _work_row(2, 8, 0.5, 0, 0),
        "scan": _work_row(1, 4, 0.25, 0, 0),
        "gone": _work_row(1, 1, 0.1, 0, 0),
    })
    new = _work_file(tmp_path, "new.json", {
        "build": _work_row(3, 32, 1.5, 600, 0),
        "probe": _work_row(2, 8, 0.75, 0, 4096),
        "scan": _work_row(1, 4, 0.25, 0, 0),
    })
    tool.main([old, new, "--json"])
    d = json.loads(capsys.readouterr().out)
    assert d["work_absent"] == []
    # largest executor-CPU increase first; equal deltas by name
    assert [r["entry"] for r in d["work"]] == ["probe", "scan", "build"]
    by_name = {r["entry"]: r for r in d["work"]}
    assert by_name["build"]["delta"] == {
        "stages": -1, "tasks": -8, "executor_cpu_s": -0.5,
        "shuffle_write_bytes": -400, "spill_bytes": 0,
    }
    assert by_name["probe"]["delta"]["spill_bytes"] == 4096
    assert by_name["probe"]["old"]["executor_cpu_s"] == 0.5
    assert by_name["probe"]["new"]["executor_cpu_s"] == 0.75
    # the same rows, in the same order, in the text report
    tool.main([old, new])
    out = capsys.readouterr().out
    assert "work deltas (new - old) over 3 common entries:" in out
    lines = out.splitlines()
    header = lines.index(next(l for l in lines if l.startswith("entry ")))
    for field in tool.WORK_FIELDS:
        assert field in lines[header]
    rows = lines[header + 1:]
    assert [r.split()[0] for r in rows] == ["probe", "scan", "build"]
    assert rows[2].split()[1:] == ["-1", "-8", "-0.500", "-400", "+0"]


def test_file_without_work_still_diffs_wall(tool, tmp_path, capsys):
    """A raw-passes file written before bench.py recorded work (the
    committed r20 artifact) still diffs wall times; the report says
    work is absent instead of raising."""
    here = os.path.join(os.path.dirname(__file__), "..")
    legacy = os.path.join(here, "BENCH_raw_passes_r20.json")
    if not os.path.exists(legacy):
        pytest.skip("r20 raw-passes artifact not present")
    with open(legacy) as fh:
        names = list(json.load(fh)["queries"])
    new = _work_file(tmp_path, "new.json",
                     {n: _work_row(1, 1, 0.1, 0, 0) for n in names})
    tool.main([legacy, new])
    out = capsys.readouterr().out
    assert f"common entries: {len(names)}" in out
    assert "work: absent in old (no per-entry work rows; wall diff only)" in out
    tool.main([legacy, legacy, "--json"])
    d = json.loads(capsys.readouterr().out)
    assert d["work"] is None
    assert d["work_absent"] == ["old", "new"]
    assert d["common_entries"] == len(names)
