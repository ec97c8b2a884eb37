"""Tests of the benchmark itself, at a tiny scale.

    python3 -m pytest perfbench -q

Each workload completes untraced and traced with no oracle mismatch,
every metric that BENCHMARK.json names is emitted with its unit, and the
oracle check flags a planted mismatch as a failure.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
import sparkstats  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

TINY = 3000


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """Shrink every run, and stop the driver JVM after the module."""
    mp = pytest.MonkeyPatch()
    mp.setattr(workloads, "ROWS", {w: TINY for w in workloads.ROWS})
    mp.setattr(run, "MIN_JOBS", 1)
    mp.setattr(run, "LEDGER_REPS", 1)
    mp.setattr(run, "SCALING_REPS", 1)
    mp.setattr(run, "WORK", str(tmp_path_factory.mktemp("work")))
    yield
    mp.undo()
    sparkstats.shutdown_jvm()


@pytest.fixture(scope="module")
def expected(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("orders") / "orders.parquet")
    workloads.write_orders(path, seed=7, rows=TINY)
    return workloads.oracle(path)


def _run(workload: str, trace: bool, seed: int = 1):
    bench = run.Bench(workload, seed, trace)
    try:
        report, metrics = bench.run(0)
    finally:
        bench.close()
    return report, bench.result(metrics)


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", sorted(workloads.JOBS))
def test_workload_completes_and_emits_every_metric(tiny, spec, workload, trace):
    report, result = _run(workload, trace)
    assert result["correct"], result
    assert result["failed"] == 0
    assert result["attempted"] >= 2
    named = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in named}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    if workload == "registry_resume":
        # one gap per job spans the crash; the rest are chunk commits
        assert report["crash_gap_s"]["n"] == report["jobs"]
        assert report["commit_latency_s"]["n"] == report["jobs"] * (workloads.N_CHUNKS - 2)
    else:
        assert report["crash_gap_s"] is None


def test_planted_oracle_mismatch_fails_the_run(tiny, monkeypatch):
    real = workloads.oracle

    def planted(path):
        exp = real(path)
        (source, sink), n = next(iter(sorted(exp.counts.items())))
        return dataclasses.replace(exp, counts={**exp.counts, (source, sink): n + 1})

    monkeypatch.setattr(workloads, "oracle", planted)
    _report, result = _run("route_counts", trace=False)
    assert not result["correct"]
    assert result["failed"] >= 1


def _copy(landed):
    return workloads.Landed(dict(landed.counts), dict(landed.sums))


def test_compare_accepts_the_oracle_itself(expected):
    checked, bad = workloads.compare(expected, _copy(expected))
    assert bad == 0
    assert checked == len(expected.sums) >= 5


def test_compare_flags_an_altered_sink_count(expected):
    got = _copy(expected)
    key = sorted(got.counts)[0]
    got.counts[key] += 1
    assert workloads.compare(expected, got)[1] == 1


def test_compare_flags_an_altered_checksum(expected):
    got = _copy(expected)
    sink = sorted(got.sums)[0]
    rows, n_tok, tok, tok_hash = got.sums[sink]
    got.sums[sink] = (rows, n_tok, tok, tok_hash + 1)
    assert workloads.compare(expected, got)[1] == 1


def test_compare_flags_missing_and_extra_sinks(expected):
    got = _copy(expected)
    sink = sorted(got.sums)[0]
    del got.sums[sink]
    got.counts = {k: v for k, v in got.counts.items() if k[1] != sink}
    got.sums["nowhere"] = (1, 1, 1, 1)
    checked, bad = workloads.compare(expected, got)
    assert bad == 2
    assert checked == len(expected.sums) + 1


def test_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("job"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    job, a, b = tr.spans
    self_t = tr.self_times()
    assert a["parent"] == job["id"] and b["parent"] == job["id"]
    covered = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert self_t["job"] == pytest.approx(job["end"] - job["start"] - covered)


def test_tail_percentile_needs_ten_samples_beyond():
    assert "tail" not in run.tail_percentile([1.0] * 39)
    assert run.tail_percentile([float(i) for i in range(40)])["tail"]["p"] == 75
    assert run.tail_percentile([float(i) for i in range(100)])["tail"]["p"] == 90
