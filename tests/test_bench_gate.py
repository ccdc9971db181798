"""Unit tests for bench.py's per-query regression gate (pure function —
no Spark, no subprocess)."""

from __future__ import annotations

import glob
import json
import os

import bench


class TestRegressionFlags:
    def test_flags_only_past_threshold(self):
        prior = {"q1": 1.0, "q2": 2.0, "q3": 0.5}
        now = {"q1": 1.4, "q2": 3.2, "q3": 0.8}
        flags = bench.regression_flags(now, prior, threshold=1.5)
        assert [f["query"] for f in flags] == ["q2", "q3"]
        assert flags[0]["ratio"] == 1.6
        assert flags[1]["prior_sec"] == 0.5

    def test_sorted_worst_first(self):
        prior = {"a": 1.0, "b": 1.0}
        flags = bench.regression_flags({"a": 2.0, "b": 5.0}, prior)
        assert [f["query"] for f in flags] == ["b", "a"]

    def test_new_queries_never_flagged(self):
        flags = bench.regression_flags({"brand_new": 100.0}, {"old": 1.0})
        assert flags == []

    def test_zero_or_missing_prior_safe(self):
        flags = bench.regression_flags({"q": 3.0}, {"q": 0.0})
        assert flags == []

    def test_no_flags_when_faster(self):
        assert bench.regression_flags({"q": 0.4}, {"q": 1.0}) == []

    def test_latest_bench_record_reads_newest(self):
        records = bench._bench_records()
        got = bench._latest_bench_record(records)
        assert got is not None
        name, queries = got
        # assert shape, not the specific round number
        assert name.startswith("BENCH_r") and name.endswith(".json")
        assert "extract_pipeline" in queries
        assert all(isinstance(v, (int, float)) for v in queries.values())
        # no later record (e.g. a same-round null-parsed one) has times
        idx = [n for n, _ in records].index(name)
        assert not any(rec.get("queries") for _, rec in records[idx + 1:])


class TestBestBenchTimes:
    """Trend gate (round-5 verdict item 8): the vs-best baseline is the
    per-query min across calm records only."""

    def test_min_across_records(self):
        recs = [
            {"host_steal_pct": 0.5, "queries": {"q1": 2.0, "q2": 1.0}},
            {"host_steal_pct": 1.0, "queries": {"q1": 1.5, "q3": 4.0}},
        ]
        assert bench.best_bench_times(recs) == {
            "q1": 1.5, "q2": 1.0, "q3": 4.0}

    def test_contended_records_skipped(self):
        recs = [
            {"host_steal_pct": 0.5, "queries": {"q1": 2.0}},
            # freak-fast time under 24% steal must not set the bar
            {"host_steal_pct": 24.0, "queries": {"q1": 0.1}},
        ]
        assert bench.best_bench_times(recs) == {"q1": 2.0}

    def test_missing_steal_included(self):
        # old records without the field predate the steal gate — include
        recs = [{"queries": {"q1": 3.0}}]
        assert bench.best_bench_times(recs) == {"q1": 3.0}

    def test_garbage_values_ignored(self):
        recs = [{"host_steal_pct": 0.0,
                 "queries": {"q1": 0.0, "q2": None, "q3": "fast"}}]
        assert bench.best_bench_times(recs) == {}

    def test_drift_caught_vs_best_not_vs_prior(self):
        """The scenario the trend gate exists for: 1.0 -> 1.3 -> 1.7 —
        each single round is under 1.5x, the cumulative drift is not."""
        history = [
            {"host_steal_pct": 0.0, "queries": {"q": 1.0}},
            {"host_steal_pct": 0.0, "queries": {"q": 1.3}},
        ]
        now = {"q": 1.7}
        vs_prior = bench.regression_flags(now, history[-1]["queries"])
        vs_best = bench.regression_flags(
            now, bench.best_bench_times(history))
        assert vs_prior == []
        assert [f["query"] for f in vs_best] == ["q"]

    def test_all_committed_records_parse(self):
        recs = bench._bench_records()
        committed = glob.glob(os.path.join(bench.REPO, "BENCH_r*.json"))
        names = [n for n, _ in recs]
        assert sorted(names) == sorted(os.path.basename(p) for p in committed)
        # null "parsed" bodies fall back to the outer record
        bodies = dict(recs)
        for null_parsed in ("BENCH_r06.json", "BENCH_r07_control.json"):
            assert bodies[null_parsed]["parsed"] is None
        assert all(isinstance(body, dict) for body in bodies.values())
        best = bench.best_bench_times(list(bodies.values()))
        assert "extract_pipeline" in best
        assert all(v > 0 for v in best.values())

    def test_loader_orders_by_round_and_skips_unreadable(self, tmp_path,
                                                          monkeypatch):
        files = {
            "BENCH_r10.json": {"parsed": {"queries": {"q": 1.0}}},
            "BENCH_r02.json": {"parsed": None, "rc": 1},
            "BENCH_r03.json": [1, 2],
            "BENCH_r04.json": {"parsed": "truncated"},
        }
        for name, body in files.items():
            (tmp_path / name).write_text(json.dumps(body))
        (tmp_path / "BENCH_r05.json").write_text("{not json")
        monkeypatch.setattr(bench, "REPO", str(tmp_path))
        recs = bench._bench_records()
        assert [n for n, _ in recs] == [
            "BENCH_r02.json", "BENCH_r04.json", "BENCH_r10.json"]
        assert recs[0][1] == {"parsed": None, "rc": 1}
        assert recs[1][1] == {"parsed": "truncated"}
        assert bench._latest_bench_record(recs) == ("BENCH_r10.json", {"q": 1.0})


class TestScalingBlockPick:
    """Contended-moment retry for run_scaling: the calm detector and the
    block picker read ONLY contention signals (control ceilings, steal),
    never the pipeline efficiency — the no-optional-stopping property."""

    @staticmethod
    def _block(eff, ctrl, pre, steals):
        return {
            "scaling_efficiency_n_to_4n": eff,
            "hardware_control": {"efficiency_ceiling": ctrl},
            "control_precheck": pre,
            "all_runs_sec": {
                "local[2]": [{"sec": 1.0, "steal_pct": s} for s in steals],
                "local[8]": [{"sec": 1.0, "steal_pct": 0.0}],
            },
        }

    def test_calm_block_scores_zero(self):
        b = self._block(0.5, 0.9, 0.85, [0.3, 1.2])
        assert bench._block_noise_score(b, 5.0) == 0.0

    def test_superlinear_control_is_contended(self):
        # the observed failure mode: ceiling 1.078 == the slow control
        # window itself was being stolen from
        b = self._block(0.95, 1.078, 0.9, [0.1])
        assert bench._block_noise_score(b, 5.0) > 0.0
        assert not bench._moment_calm(1.078)

    def test_depressed_control_is_contended(self):
        assert not bench._moment_calm(0.6)
        assert bench._moment_calm(0.8)

    def test_steal_over_gate_scores(self):
        b = self._block(0.9, 0.9, 0.9, [9.0])
        assert bench._block_noise_score(b, 5.0) > 0.0
        assert bench._block_noise_score(b, 10.0) == 0.0

    def test_picker_ignores_efficiency(self):
        # the HIGHER-efficiency block is noisier; the picker must take the
        # calmer one even though its efficiency reads worse
        noisy_good = self._block(0.99, 1.2, 0.9, [0.1])
        calm_bad = self._block(0.79, 0.9, 0.88, [0.2])
        picked = min([noisy_good, calm_bad],
                     key=lambda b: bench._block_noise_score(b, 5.0))
        assert picked is calm_bad
