"""Pins for bench.py's measurement protocol and its sealed-grid
provenance. No SparkSession needed:

- ``_make_bench``: every query gets WARMUP untimed runs, then REPEAT
  timed runs whose median is its number.
- bench.py reads exactly five ``SPARK_GRAFT_*`` settings.
- ``_grid_code_hash`` / ``_carry_sealed_grids``: sealed ann/scale grids
  are signed with a code hash and carried forward by default runs, with
  staleness flagged instead of silently trusted or wiped.
"""

from __future__ import annotations

import importlib.util
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _bench():
    if "bench" in sys.modules:
        return sys.modules["bench"]
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


class TestProtocol:
    def test_one_warmup_then_median_of_three(self, monkeypatch):
        b = _bench()
        monkeypatch.setattr(b, "_find_jvm_pid", lambda: None)
        calls = []
        timings, peaks, errors, runs = {}, {}, {}, {}
        bench = b._make_bench(None, timings, peaks, errors, runs)
        bench("q", lambda: calls.append("q"))
        bench("r", lambda: calls.append("r"))
        assert calls == ["q"] * 4 + ["r"] * 4
        assert {name: len(r) for name, r in runs.items()} == {"q": 3, "r": 3}
        assert timings["q"] == sorted(runs["q"])[1]
        assert not errors and not peaks

    def test_failing_query_records_its_error(self, monkeypatch):
        b = _bench()
        monkeypatch.setattr(b, "_find_jvm_pid", lambda: None)
        timings, errors, runs = {}, {}, {}
        bench = b._make_bench(None, timings, {}, errors, runs)

        def boom():
            raise ValueError("bad input")

        bench("q", boom)
        assert errors == {"q": "ValueError: bad input"}
        assert not timings and not runs

    def test_reads_exactly_the_kept_settings(self):
        names = set(re.findall(r"SPARK_GRAFT_\w+", (REPO / "bench.py").read_text()))
        assert names == {
            "SPARK_GRAFT_SF_DIR",
            "SPARK_GRAFT_CPUS",
            "SPARK_GRAFT_GROUPS",
            "SPARK_GRAFT_SEAL_EXTRAS",
            "SPARK_GRAFT_BENCH_DEADLINE",
        }, sorted(names)


class TestSealedGridProvenance:
    def test_code_hash_is_deterministic_hex(self):
        b = _bench()
        h1, h2 = b._grid_code_hash(), b._grid_code_hash()
        assert h1 == h2
        assert len(h1) == 16
        int(h1, 16)  # hex

    def test_matching_hash_carries_grids_quietly(self):
        b = _bench()
        prev = {
            "ann_recall_at_k": {"ivf": {"k10": 0.97}},
            "scale_probe": {"pack": {"exponent": 0.5}},
            "sealed_grids_meta": {"code_hash": "abc", "sealed_extras": True},
        }
        ann, scale, meta, msg = b._carry_sealed_grids(prev, "abc")
        assert msg is None
        assert ann == prev["ann_recall_at_k"]
        assert scale == prev["scale_probe"]
        assert meta["carried_forward"] is True

    def test_hash_mismatch_flags_stale(self):
        b = _bench()
        prev = {
            "scale_probe": {"pack": {"exponent": 0.5}},
            "sealed_grids_meta": {"code_hash": "abc"},
        }
        _, scale, _, msg = b._carry_sealed_grids(prev, "def")
        assert msg is not None and "abc" in msg and "def" in msg
        # stale grids are still carried (visibly flagged), never wiped
        assert scale == prev["scale_probe"]

    def test_unsigned_seal_flags(self):
        b = _bench()
        prev = {"scale_probe": {"pack": {"exponent": 0.5}}}
        _, _, _, msg = b._carry_sealed_grids(prev, "def")
        assert msg is not None and "unsigned" in msg

    def test_no_previous_seal_flags(self):
        _, _, _, msg = _bench()._carry_sealed_grids(None, "def")
        assert msg is not None
