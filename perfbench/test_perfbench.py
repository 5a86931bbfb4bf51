"""Self-tests of the benchmark harness.

Run from the repository root::

    python3 -m pytest perfbench -q

The pure tests need no Spark; the others start one small local session.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

import run
from spans import Tracer, merge_intervals, self_seconds
from status import StatusProbe, derived
from workloads import TAIL_MIN_SAMPLES, Ctx, IngestMixed, TiersBatch, tail_percentile


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


class ScriptedProbe:
    """Returns one jobs count per drain, in order."""

    def __init__(self, jobs: list[int]) -> None:
        self.jobs = list(jobs)

    def drain(self) -> dict:
        return {"jobs": self.jobs.pop(0)}


def test_merge_intervals_overlap_and_gap():
    assert merge_intervals([]) == 0.0
    assert merge_intervals([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert merge_intervals([(1, 4), (2, 3)]) == pytest.approx(3.0)


def test_self_time_on_nested_spans():
    clock = FakeClock()
    tr = Tracer(enabled=True, clock=clock)
    with tr.trace("rep-1"):
        with tr.span("outer"):
            clock.t = 1.0
            with tr.span("child_a"):
                clock.t = 3.0
                with tr.span("grandchild"):
                    clock.t = 3.5
            clock.t = 4.0
            with tr.span("child_b"):
                clock.t = 6.0
            clock.t = 10.0
    by_name = {sp.name: sp for sp in tr.spans}
    selfs = self_seconds(tr.spans)
    assert selfs[by_name["outer"].span_id] == pytest.approx(10.0 - 2.5 - 2.0)
    assert selfs[by_name["child_a"].span_id] == pytest.approx(2.5 - 0.5)
    assert selfs[by_name["grandchild"].span_id] == pytest.approx(0.5)
    assert selfs[by_name["child_b"].span_id] == pytest.approx(2.0)
    assert by_name["grandchild"].parent == by_name["child_a"].span_id
    assert {sp.trace_id for sp in tr.spans} == {"rep-1"}


def test_counters_charge_the_innermost_span():
    # drains happen at: enter outer, enter inner, exit inner, exit outer
    tr = Tracer(enabled=True, probe=ScriptedProbe([7, 2, 5, 3]))
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.counters == {"jobs": 5}      # work done while inner was open
    assert outer.counters == {"jobs": 2 + 3}  # before and after inner; 7 predates both


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False, probe=ScriptedProbe([]))
    with tr.span("x") as sp:
        sp.add("rows_out", 5)
    assert tr.spans == []


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11))) is None  # p50 rank 5 has only 5 beyond
    assert tail_percentile(list(range(TAIL_MIN_SAMPLES - 1))) is None
    assert TAIL_MIN_SAMPLES == 20
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile(list(range(100))) == (90.0, 89)
    p, v = tail_percentile(list(range(1000)))
    assert (p, v) == (99.0, 989)
    assert 1000 - 1 - v >= 10


def test_derived_python_wait_and_skew():
    d = derived({"task_run_s": 5.0, "jvm_cpu_s": 1.5, "task_max_s": 3.0, "task_median_s": 1.0})
    assert d == {"python_wait_s": 3.5, "task_skew": 3.0}
    assert derived({}) == {"python_wait_s": 0.0, "task_skew": 0.0}


def test_guest_layers_are_averaged_per_guest_repetition():
    clock = FakeClock()
    tr = Tracer(enabled=True, clock=clock)
    for trace_id, layer, secs in (("rep-1", "core.gapfill", 2.0), ("rep-2", "core.gapfill", 4.0),
                                  ("guest-1", "webtext.lm", 5.0)):
        with tr.trace(trace_id), tr.span(layer) as sp:
            sp.add("jobs", 3)
            clock.t += secs
    out = run.layer_metrics(tr, {"rep": 2, "guest": 1}, 3, {"cache_mb": 1.0, "overhead_s": 0.1})
    assert out["core.gapfill.self_s"] == pytest.approx(3.0)
    assert out["core.gapfill.jobs"] == pytest.approx(3.0)
    assert out["webtext.lm.self_s"] == pytest.approx(5.0)
    assert out["webtext.lm.jobs"] == pytest.approx(3.0)
    assert out["models.self_s"] == 0.0


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in run.END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_catalogue()
    assert len(spec["per_layer"]) <= 128
    from workloads import WORKLOADS

    listed = {w["name"] for w in spec["workloads"]}
    assert listed <= set(WORKLOADS)
    # every workload is listed or runs as a guest of a listed one
    assert set(WORKLOADS) == listed | {g for h, g in run.TRACED_GUEST.items() if h in listed}


# ---------------------------------------------------------------- Spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """A benchmark session that leaves no process state behind: the
    environment is restored and the JVM is gone afterwards, so a later
    session in the same pytest process starts with its own settings."""
    workdir = str(tmp_path_factory.mktemp("perfbench"))
    saved_env, saved_path = dict(os.environ), list(sys.path)
    run._prepare_env(workdir)  # the directory exists: mktemp made it
    try:
        session = run.start_session(workdir)
        yield session
        run.stop_session(session)
    finally:
        os.environ.clear()
        os.environ.update(saved_env)
        sys.path[:] = saved_path


def _ctx(spark, seed: int, tmp_path) -> Ctx:
    return Ctx(spark, seed, Tracer(enabled=False), str(tmp_path), time.perf_counter)


def test_status_probe_diff_on_a_tiny_job(spark):
    probe = StatusProbe(spark)
    spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    d = probe.drain()
    assert d["jobs"] >= 1 and d["stages"] >= 1 and d["tasks"] >= 4
    assert d["task_run_s"] >= 0 and d["shuffle_write_mb"] > 0
    again = probe.drain()
    assert again["jobs"] == 0 and again["stages"] == 0 and again["tasks"] == 0
    cached = spark.range(0, 1000, 1, 4).persist()
    cached.count()
    assert probe.cached_mb() > 0
    cached.unpersist()


class ToyTiers(TiersBatch):
    PAGES, HOSTS, WEEKS = 3000, 20, 1


def _tier_refs(spark, seed: int, tmp_path) -> dict:
    ctx = _ctx(spark, seed, tmp_path)
    wl = ToyTiers()
    wl.build_inputs(ctx)
    try:
        wl.rep(ctx, 0)
        wl.rep(ctx, 1)
    finally:
        wl.release()
    assert ctx.failed == 0, ctx.failures
    assert ctx.attempted == 6
    return ctx.refs


def test_same_seed_same_checksums(spark, tmp_path):
    a = _tier_refs(spark, 3, tmp_path)
    b = _tier_refs(spark, 3, tmp_path)
    c = _tier_refs(spark, 4, tmp_path)
    assert a == b
    assert a != c


class ToyIngest(IngestMixed):
    BATCH_PAGES, HOSTS, HOT = 3000, 10, 2


def test_ingest_cycles_match_from_scratch_rollup(spark, tmp_path):
    ctx = _ctx(spark, 5, tmp_path)
    wl = ToyIngest()
    wl.build_inputs(ctx)
    try:
        for i in range(5):  # on-time, late, replays and a dropping retention
            wl.rep(ctx, i)
        dates = [e.split("=", 1)[1] for e in os.listdir(wl.inc.path) if e.startswith("bucket_date=")]
        assert min(dates) >= wl.cutoff > "2023-12-31"  # the late batch's oldest day was dropped
        wl.finish(ctx)
    finally:
        wl.release()
    assert ctx.failed == 0, ctx.failures
