"""Contract tests for bench.py's final stdout line.

The round driver captures only the LAST 2,000 characters of bench.py's
stdout and json-parses the final line; BENCH_r07/r08.json both recorded
``parsed: null`` because the line embedded the full per-query map
(~3.7 KB).  These tests pin the compact-line contract so adding bench
entries or provenance fields can never push the line past the capture
window again (r8 VERDICT item 1).

No SparkSession needed — build_final_line is pure.
"""
from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_BENCH_PATH = os.path.join(os.path.dirname(__file__), "..", "bench.py")


@pytest.fixture(scope="module")
def bench_mod():
    # bench.py creates a SparkSession only inside main(); importing the
    # module is side-effect-free apart from reading env vars.
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    yield mod
    sys.modules.pop("bench_under_test", None)


def _realistic_inputs():
    """Shapes copied from BENCH_raw_passes.json (r8 driver run)."""
    merged = {f"entry_{i:02d}": round(0.123 + i * 0.017, 3) for i in range(80)}
    serving = {
        "keys_per_sec": 4587.2,
        "per_key_p50_ms": 1.5412,
        "per_key_p99_ms": 3.1917,
        "batch_keys": 100,
        "threads": 8,
        "peak_rss_delta_mib": 9.5,
        "peak_rss_windowed": True,
        "rg_cache_mib": 10.07,
        # the FINAL line carries the cross-pass concatenation of every
        # window wall: 3 passes x 3 windows = 9 samples
        "windows": [round(1.2591 + 0.0137 * i, 4) for i in range(9)],
    }
    provenance = {
        "merge": "per-entry min over warm passes in one JVM",
        "pass_count": 3,
        "serving_from_pass": 1,
        "loadavg_before": [2.68, 2.97, 2.7],
        "loadavg_after": [7.22, 7.59, 5.12],
        "wall_sec_all_passes": 328.7,
        "cpus": 32,
        # longest realistic stamped name (same-round re-run suffix) so the
        # budget test covers it (r9 VERDICT item 2)
        "raw_passes_file": "BENCH_raw_passes_r10_2.json",
    }
    return merged, serving, provenance


def test_final_line_fits_driver_capture(bench_mod):
    merged, serving, provenance = _realistic_inputs()
    line = bench_mod.build_final_line(
        66.123, merged, serving, 0.1, 3, provenance
    )
    assert len(line) <= bench_mod.FINAL_LINE_MAX_CHARS
    # hard driver bound with headroom: the capture window is 2,000 chars
    # (every BENCH_r*.json tail is exactly 2,000 chars) and the trailing
    # newline shares it
    assert bench_mod.FINAL_LINE_MAX_CHARS <= 1899


def test_final_line_is_one_json_object(bench_mod):
    merged, serving, provenance = _realistic_inputs()
    line = bench_mod.build_final_line(12.3, merged, serving, 0.1, 3, provenance)
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["metric"] == "total_bench_sec"
    assert parsed["value"] == 12.3
    assert parsed["unit"] == "sec"
    # the line must point at the ROUND-STAMPED audit file the run wrote
    assert parsed["queries_file"] == "BENCH_raw_passes_r10_2.json"
    # r18 VERDICT item 1: the per-query map MUST ride the line — the
    # driver's PERF comparison reads per-entry seconds from the line
    # only (r18: n_common=0, per_query={} because the line carried just
    # the total).  Same names as the raw-passes file, values equal up
    # to tier rounding (>= 2 decimals).
    assert set(parsed["queries"]) == set(merged)
    for name, sec in merged.items():
        assert abs(parsed["queries"][name] - sec) <= 0.005 + 1e-9
    # serving survives at least in scalar form: headline keys/sec always
    # rides the line; the full windows audit lives in the side file's
    # serving_final
    assert parsed["serving"]["keys_per_sec"] == serving["keys_per_sec"]


def test_final_line_carries_real_64_entry_suite(bench_mod):
    """The real suite's 64 entry names (long ones included) plus the
    full serving/provenance blocks must produce a line that fits the
    capture window AND still carries every entry."""
    merged, serving, provenance = _realistic_inputs()
    long_names = [
        "local_multiget_concurrent_8t_nocache",
        "bulk_join_8shard_subshard4",
        "incremental_update_5k_selfheal",
        "neardup_history_compact",
        "skew_hot_keys_salted_join",
        "curation_normalize_gopher",
        "quality_repetition_profile",
        "asof_join_events_bucketed",
    ] + [f"bench_entry_name_{i:02d}" for i in range(56)]
    # realistic magnitudes: the r18 suite averages ~1.3 s/entry with a
    # few 3-17 s outliers
    merged64 = {n: round(0.315 + i * 0.113, 3)
                for i, n in enumerate(long_names)}
    merged64["bench_entry_name_00"] = 17.445
    line = bench_mod.build_final_line(
        88.888, merged64, serving, 0.1, 3, provenance
    )
    assert len(line) <= bench_mod.FINAL_LINE_MAX_CHARS
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(merged64)
    for name, sec in merged64.items():
        assert abs(parsed["queries"][name] - sec) <= 0.005 + 1e-9
    # this fixture's names run longer than the real suite's, so serving
    # may legitimately drop to the no-serving tier here; the real-suite
    # test below pins that serving DOES survive with the actual names


def test_final_line_real_r18_artifact_keeps_queries_and_serving(bench_mod):
    """End-to-end against the committed r18 driver artifacts: the real
    64-entry map + the real serving/provenance blocks must fit with the
    queries map AND at least the scalar serving block on the line."""
    here = os.path.join(os.path.dirname(__file__), "..")
    raw = os.path.join(here, "BENCH_raw_passes_r18_6.json")
    official = os.path.join(here, "BENCH_r18.json")
    if not (os.path.exists(raw) and os.path.exists(official)):
        pytest.skip("r18 driver artifacts not present")
    with open(raw) as f:
        merged = json.load(f)["queries"]
    with open(official) as f:
        parsed18 = json.load(f)["parsed"]
    line = bench_mod.build_final_line(
        parsed18["value"], merged, parsed18["serving"], 0.1, 3,
        parsed18["provenance"],
    )
    assert len(line) <= bench_mod.FINAL_LINE_MAX_CHARS
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(merged)
    assert parsed["serving"]["keys_per_sec"] == (
        parsed18["serving"]["keys_per_sec"]
    )


def test_slim_serving_levels(bench_mod):
    _, serving, _ = _realistic_inputs()
    s1 = bench_mod.slim_serving(serving, 1)
    assert s1["keys_per_sec"] == serving["keys_per_sec"]
    assert s1["per_key_p50_ms"] == serving["per_key_p50_ms"]
    assert "windows" not in s1
    s2 = bench_mod.slim_serving(serving, 2)
    assert set(s2) == {"keys_per_sec"}
    assert bench_mod.slim_serving(None, 1) is None


def test_final_line_fallback_never_exceeds_budget(bench_mod):
    merged, serving, provenance = _realistic_inputs()
    # bloat the provenance far past the budget: the fallback path must
    # engage and still produce valid, bounded JSON
    provenance = dict(provenance, note="x" * 4000)
    line = bench_mod.build_final_line(1.0, merged, serving, 0.1, 3, provenance)
    assert len(line) <= bench_mod.FINAL_LINE_MAX_CHARS
    parsed = json.loads(line)
    assert parsed["value"] == 1.0
    assert parsed["queries_file"] == provenance["raw_passes_file"]


def test_final_line_second_fallback_is_rechecked(bench_mod):
    """ADVICE r9 item 4: the first fallback keeps sf/queries_file, so a
    pathological scalar there must trigger the bare-scalar second
    fallback — the budget holds unconditionally, and the result still
    parses."""
    merged, serving, provenance = _realistic_inputs()
    provenance = dict(provenance, raw_passes_file="y" * 4000)
    line = bench_mod.build_final_line(
        2.5, merged, serving, "z" * 4000, 3, provenance
    )
    assert len(line) <= bench_mod.FINAL_LINE_MAX_CHARS
    parsed = json.loads(line)
    assert parsed == {"metric": "total_bench_sec", "value": 2.5, "unit": "sec"}


def test_stamped_raw_passes_name_round_and_uniqueness(bench_mod, tmp_path):
    """r9 VERDICT item 2: the stamped name is 1 + the highest driver
    round on disk, and never an existing filename."""
    (tmp_path / "BENCH_r01.json").write_text("{}")
    (tmp_path / "BENCH_r09.json").write_text("{}")
    # non-round files must not confuse the round inference
    (tmp_path / "BENCH_solo_r9.json").write_text("{}")
    (tmp_path / "BENCH_scale.json").write_text("{}")
    assert bench_mod.stamped_raw_passes_name(str(tmp_path)) == (
        "BENCH_raw_passes_r10.json"
    )
    # same-round re-runs uniquify instead of reusing the name
    (tmp_path / "BENCH_raw_passes_r10.json").write_text("{}")
    assert bench_mod.stamped_raw_passes_name(str(tmp_path)) == (
        "BENCH_raw_passes_r10_2.json"
    )
    (tmp_path / "BENCH_raw_passes_r10_2.json").write_text("{}")
    assert bench_mod.stamped_raw_passes_name(str(tmp_path)) == (
        "BENCH_raw_passes_r10_3.json"
    )
    # empty dir -> round 1
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bench_mod.stamped_raw_passes_name(str(empty)) == (
        "BENCH_raw_passes_r01.json"
    )


def test_write_raw_passes_never_clobbers(bench_mod, tmp_path):
    """r9 VERDICT item 5: the writer must never overwrite an existing
    round-stamped file — the exact failure mode stamping exists to
    prevent — while the unstamped latest alias IS refreshed."""
    (tmp_path / "BENCH_r09.json").write_text("{}")
    prior = tmp_path / "BENCH_raw_passes_r10.json"
    prior.write_text('{"sentinel": true}')
    payload = {"queries": {"a": 1.0}, "provenance": {}}
    name = bench_mod.write_raw_passes(str(tmp_path), payload)
    # the prior round-stamped file is untouched, byte for byte
    assert json.loads(prior.read_text()) == {"sentinel": True}
    assert name == "BENCH_raw_passes_r10_2.json"
    written = json.loads((tmp_path / name).read_text())
    assert written["queries"] == {"a": 1.0}
    # the on-disk artifact self-describes its own filename
    assert written["provenance"]["raw_passes_file"] == name
    # the latest-run alias is refreshed (the one allowed overwrite)
    alias = json.loads((tmp_path / "BENCH_raw_passes.json").read_text())
    assert alias["queries"] == {"a": 1.0}


def test_write_raw_passes_degrades_to_alias_on_stamped_failure(
    bench_mod, tmp_path, monkeypatch
):
    """ADVICE r10 item 1: when the stamped exclusive create fails with
    OSError, the returned name (and the payload's provenance) must point
    at the alias that WAS written — never at a stamped file that never
    existed."""
    # a stamped name inside a missing subdirectory -> FileNotFoundError
    # (OSError, not FileExistsError) on the exclusive create; the alias
    # write at tmp_path still succeeds
    monkeypatch.setattr(
        bench_mod, "stamped_raw_passes_name",
        lambda here: os.path.join("no_such_dir", "BENCH_raw_passes_r11.json"),
    )
    payload = {"queries": {"a": 1.0}, "provenance": {}}
    name = bench_mod.write_raw_passes(str(tmp_path), payload)
    assert name == "BENCH_raw_passes.json"
    alias = json.loads((tmp_path / "BENCH_raw_passes.json").read_text())
    assert alias["provenance"]["raw_passes_file"] == "BENCH_raw_passes.json"
    assert alias["provenance"]["raw_passes_degraded"] == (
        "stamped write failed; alias only"
    )
    # no stray stamped file appeared anywhere under tmp_path
    assert not list(tmp_path.glob("BENCH_raw_passes_r*.json"))


def test_write_raw_passes_returns_none_when_nothing_written(
    bench_mod, tmp_path, monkeypatch
):
    """ADVICE r10 item 1, total-failure leg: stamped create AND alias
    write both fail (read-only checkout) -> the function returns None so
    the stdout line's queries_file is an honest null, not a phantom
    filename."""
    target = tmp_path / "not_a_dir"
    target.write_text("")  # a FILE: open(join(file, name)) -> OSError
    payload = {"queries": {"a": 1.0}, "provenance": {}}
    name = bench_mod.write_raw_passes(str(target), payload)
    assert name is None
    assert payload["provenance"]["raw_passes_file"] is None
    assert payload["provenance"]["raw_passes_degraded"] == (
        "no raw-passes artifact written"
    )


def test_write_raw_passes_exhausted_races_degrade(
    bench_mod, tmp_path, monkeypatch
):
    """ADVICE r10 item 1, exhaustion leg: if all 100 exclusive-create
    attempts lose the race (the stamper keeps naming existing files),
    the result degrades to the alias rather than the last raced name."""
    (tmp_path / "taken.json").write_text("{}")
    monkeypatch.setattr(
        bench_mod, "stamped_raw_passes_name", lambda here: "taken.json"
    )
    payload = {"queries": {"a": 1.0}, "provenance": {}}
    name = bench_mod.write_raw_passes(str(tmp_path), payload)
    assert name == "BENCH_raw_passes.json"
    # the raced file is untouched
    assert (tmp_path / "taken.json").read_text() == "{}"
    alias = json.loads((tmp_path / "BENCH_raw_passes.json").read_text())
    assert alias["provenance"]["raw_passes_file"] == "BENCH_raw_passes.json"


# ---- r11 VERDICT item 1: unconditional k-window serving fold ---------


def _win(wall):
    return {"wall": wall}


def test_fold_draws_k_windows_unconditionally(bench_mod):
    """One window per pass kept landing a 3-pass run's 3-sample min in
    the 5-10k envelope's trough.  The fold must draw k windows every
    pass."""
    calls = []

    def run_window():
        calls.append(1)
        return _win(1.0 + 0.3 * len(calls))  # quiet, monotonically slower

    windows, kept = bench_mod.fold_serving_windows(run_window)
    assert len(calls) == bench_mod.SERVING_WINDOWS_PER_PASS == 3
    assert len(windows) == 3
    assert kept is windows[0]  # min wall


def test_fold_min_wall_wins_regardless_of_order(bench_mod):
    seq = [_win(1.4), _win(0.8), _win(1.1)]
    windows, kept = bench_mod.fold_serving_windows(
        lambda: seq.pop(0), k=3
    )
    assert kept["wall"] == 0.8
    assert [w["wall"] for w in windows] == [1.4, 0.8, 1.1]


def test_fold_is_total_for_nonpositive_k(bench_mod):
    """ADVICE r12 item 2: k<=0 must not reach min() on an empty list —
    the policy clamps to one draw instead of raising ValueError."""
    for bad_k in (0, -3):
        seq = [_win(1.2)]
        windows, kept = bench_mod.fold_serving_windows(
            lambda: seq.pop(0), k=bad_k
        )
        assert len(windows) == 1
        assert kept["wall"] == 1.2


# ---- ADVICE r12 items 1+3: the final line's cross-pass serving fold --


def _pass_serving(qps, n_windows):
    """A per-pass serving block with the fields the fold touches."""
    return {
        "keys_per_sec": qps,
        "per_key_p50_ms": 0.8,
        "windows": [round(8000.0 / qps, 3)] * n_windows,
    }


def test_build_final_serving_concatenates_windows_and_any_folds_retry(
    bench_mod,
):
    """main() ships build_final_serving's result verbatim; this pins the
    exact construction sparklessly (ADVICE r12 item 3).  The block's
    scalars come from the best pass; windows is the cross-pass
    concatenation."""
    servings = [
        _pass_serving(5000.0, n_windows=3),
        _pass_serving(9000.0, n_windows=3),
        _pass_serving(7000.0, n_windows=3),
    ]
    final = bench_mod.build_final_serving(servings, best_idx=1)
    # scalars: best pass's block, untouched
    assert final["keys_per_sec"] == 9000.0
    # windows: every sample drawn this run, in pass order
    assert final["windows"] == (
        servings[0]["windows"] + servings[1]["windows"]
        + servings[2]["windows"]
    )
    assert len(final["windows"]) == 9
    # inputs are not mutated (pure fold)
    assert len(servings[1]["windows"]) == 3


def test_build_final_serving_no_retry_anywhere(bench_mod):
    servings = [
        _pass_serving(8000.0, n_windows=3),
        _pass_serving(8500.0, n_windows=3),
    ]
    final = bench_mod.build_final_serving(servings, best_idx=0)
    assert len(final["windows"]) == 6
    assert final["keys_per_sec"] == 8000.0  # best-pass scoped


# ---- legacy serving blocks --------------------------------------------


def test_final_line_with_null_envelope_parses_and_fits(bench_mod):
    """Serving blocks recorded while the envelope bracket existed carry
    an ``envelope`` key, null when the bracket was disabled; such a
    block must still parse and stay inside the budget, with its
    headline scalars."""
    merged, serving, provenance = _realistic_inputs()
    serving = dict(serving, envelope=None)
    line = bench_mod.build_final_line(
        66.1, merged, serving, 0.1, 3, provenance
    )
    assert len(line) <= bench_mod.FINAL_LINE_MAX_CHARS
    parsed = json.loads(line)
    assert parsed["serving"]["keys_per_sec"] == serving["keys_per_sec"]
    if "envelope" in parsed["serving"]:  # tier 0 (small suites)
        assert parsed["serving"]["envelope"] is None


def test_build_final_serving_totality_guards(bench_mod):
    """ADVICE r13 item 2: empty servings / out-of-range best_idx raise a
    clear ValueError (matching fold_serving_windows' totality clamp),
    never a bare IndexError from deep inside the fold."""
    with pytest.raises(ValueError, match="non-empty"):
        bench_mod.build_final_serving([], best_idx=0)
    one = [_pass_serving(8000.0, n_windows=3)]
    with pytest.raises(ValueError, match="out of range"):
        bench_mod.build_final_serving(one, best_idx=1)
    with pytest.raises(ValueError, match="out of range"):
        bench_mod.build_final_serving(one, best_idx=-1)
    # the in-range case still works
    assert bench_mod.build_final_serving(one, best_idx=0)[
        "keys_per_sec"
    ] == 8000.0


def test_min_merge_work_is_per_field_per_entry(bench_mod):
    """The side file's ``work`` map merges passes the way ``queries``
    does: each field of each entry takes its own minimum, and an entry
    missing from a pass is merged over the passes that ran it."""
    passes = [
        {"a": {"stages": 3, "executor_cpu_s": 2.0},
         "b": {"stages": 1, "executor_cpu_s": 0.5}},
        {"a": {"stages": 2, "executor_cpu_s": 2.5}},
        {"a": {"stages": 4, "executor_cpu_s": 1.5},
         "b": {"stages": 1, "executor_cpu_s": 0.25}},
    ]
    assert bench_mod.min_merge_work(passes) == {
        "a": {"stages": 2, "executor_cpu_s": 1.5},
        "b": {"stages": 1, "executor_cpu_s": 0.25},
    }
