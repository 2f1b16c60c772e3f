"""Structural checks of the one pin policy (no Spark session needed):
every lazy materialization of a frame an operator reads twice goes
through ``elephantdb_spark.pinning.pin``, so release and any future
size estimate live in one module."""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "elephantdb_spark"


def _sources() -> dict[str, str]:
    return {
        str(p.relative_to(PKG)): p.read_text(encoding="utf-8")
        for p in sorted(PKG.rglob("*.py"))
    }


def test_lazy_checkpoint_only_in_pin_module():
    sites = {
        name: src.count("localCheckpoint(eager=False)")
        for name, src in _sources().items()
        if "localCheckpoint(eager=False)" in src
    }
    assert sites == {"pinning.py": 1}, sites


def test_tracked_persist_registry_is_gone():
    for name, src in _sources().items():
        for gone in ("_persist_tracked", "_TRACKED_CACHES", "release_shingle_caches"):
            assert gone not in src, f"{gone} still in {name}"
