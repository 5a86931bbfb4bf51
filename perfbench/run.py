"""Engine benchmark: one workload per process, seed-driven inputs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tiers_batch --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload tiers_batch --seed 1 --seconds 5 --trace 1

``--trace 0`` prints every end-to-end metric. ``--trace 1`` alternates
untraced and traced repetitions (ABBA order), prints the per-layer
metrics and writes all spans to ``.perfbench_out/``. Workloads, metrics
and the layer table are described in ``perfbench/README.md``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: local[N]: at most 4 task slots, never more than the machine has
CPUS = min(4, os.cpu_count() or 1)
#: input synthesis + caching is repeated this many times; set-up reports the median
SETUP_ROUNDS = 3
#: a workload left out of BENCHMARK.json (its runs do not fit the run-time
#: budget, or its timings swing with the host's load more than a bound
#: allows) runs as a guest inside the traced runs of a listed one, after the
#: measured repetitions, so every layer still gets per-layer numbers
TRACED_GUEST = {"tiers_batch": "ingest_mixed", "series_batch": "webtext_dedup"}
GUEST_REPS = 1
END_TO_END = (("setup_s", "s"), ("items_per_s", "1/s"), ("op_p50_s", "s"), ("cache_mb", "MB"))
PER_LAYER_COMMON = (
    ("self_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_run_s", "s"), ("jvm_cpu_s", "s"), ("python_wait_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("task_skew", "ratio"), ("rows_out", "rows"),
)
LAYERS = ("rollup.tiers", "rollup.incremental.ingest", "rollup.incremental.read",
          "core.gapfill", "models", "compression", "webtext.dedup", "webtext.lm",
          "webtext.similarity.probe")
PER_LAYER_EXTRA = (
    ("session.start_s", "s"), ("sources.synth_s", "s"), ("sources.cache_mb", "MB"),
    ("rollup.incremental.retention.self_s", "s"),
    ("rollup.incremental.ingest.files_written", "count"),
    ("rollup.incremental.ingest.bytes_written_per_partial_row", "B"),
    ("rollup.incremental.ingest.affected_partitions", "count"),
    ("rollup.incremental.stored_bytes_per_point", "B"),
    ("core.gapfill.fill_ratio", "ratio"), ("models.series_ok_ratio", "ratio"),
    ("compression.bytes_per_point", "B"),
    ("webtext.similarity.index.self_s", "s"),
    ("webtext.similarity.probe.recall_at_k", "ratio"),
    ("trace.overhead_s", "s"),
)


def per_layer_catalogue() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in output order."""
    out = [(f"{layer}.{c}", unit) for layer in LAYERS for c, unit in PER_LAYER_COMMON]
    return out + list(PER_LAYER_EXTRA)


def _prepare_env(workdir: str) -> None:
    """Keep every file the run writes inside ``workdir``, and let Python
    workers import the package from any working directory."""
    os.environ["TMPDIR"] = workdir
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(workdir: str):
    from anofox_forecast_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=CPUS, extra_conf={
        "spark.local.dir": workdir,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # the whole heap up front: no repetition pays for heap growth
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir} -Xms3g",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit.

    The gateway is cleared too, so a later session in the same process
    starts a fresh JVM instead of reusing the closed one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def env_stamp(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            ref_file = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(ref_file):
                with open(ref_file) as f:
                    commit = f.read().strip()
    return {
        "nproc": os.cpu_count(), "loadavg_1_5_15": list(os.getloadavg()),
        "master": f"local[{CPUS}]", "seed": seed, "commit": commit,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }


def layer_metrics(tracer, traced_reps: dict[str, int], setup_rounds: int,
                  extra: dict) -> dict[str, float]:
    """Per-layer numbers from the recorded spans: repetition spans are
    averaged per traced repetition of their phase (``rep`` for the
    workload, ``guest`` for its guest), set-up spans per set-up round."""
    from spans import self_seconds
    from status import derived

    selfs = self_seconds(tracer.spans)
    totals: dict[str, dict] = {}
    for sp in tracer.spans:
        phase = sp.trace_id.split("-")[0]  # rep, guest, setup or session
        t = totals.setdefault((phase, sp.name), {})
        t["self_s"] = t.get("self_s", 0.0) + selfs[sp.span_id]
        for k, v in sp.counters.items():
            t[k] = t.get(k, 0.0) + v

    def rep_layer(name: str) -> dict:
        phase = next((ph for ph in ("rep", "guest") if (ph, name) in totals), "rep")
        t = totals.get((phase, name), {})
        t = {k: v / max(traced_reps.get(phase, 0), 1) for k, v in t.items()}
        return {**t, **derived(t)}

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out = {}
    for layer in LAYERS:
        t = rep_layer(layer)
        for c, _ in PER_LAYER_COMMON:
            out[f"{layer}.{c}"] = t.get(c, 0.0)
    ingest = rep_layer("rollup.incremental.ingest")
    gap = rep_layer("core.gapfill")
    mod = rep_layer("models")
    comp = rep_layer("compression")
    probe = rep_layer("webtext.similarity.probe")
    setup_sources = sum(v.get("self_s", 0.0) for (ph, n), v in totals.items()
                        if n == "sources" and ph == "setup")
    out.update({
        "session.start_s": totals.get(("session", "session"), {}).get("self_s", 0.0),
        "sources.synth_s": setup_sources / setup_rounds,
        "sources.cache_mb": extra["cache_mb"],
        "rollup.incremental.retention.self_s": rep_layer("rollup.incremental.retention").get("self_s", 0.0),
        "rollup.incremental.ingest.files_written": ingest.get("files_written", 0.0),
        "rollup.incremental.ingest.bytes_written_per_partial_row":
            ratio(ingest.get("bytes_written", 0.0), ingest.get("partial_rows", 0.0)),
        "rollup.incremental.ingest.affected_partitions": ingest.get("affected_partitions", 0.0),
        "rollup.incremental.stored_bytes_per_point": extra.get("stored_bytes_per_point", 0.0),
        "core.gapfill.fill_ratio": ratio(gap.get("filled_rows", 0.0), gap.get("rows_out", 0.0)),
        "models.series_ok_ratio": ratio(mod.get("rows_out", 0.0), mod.get("expected_rows", 0.0)),
        "compression.bytes_per_point": ratio(comp.get("blob_bytes", 0.0), comp.get("points", 0.0)),
        "webtext.similarity.index.self_s": rep_layer("webtext.similarity.index").get("self_s", 0.0),
        "webtext.similarity.probe.recall_at_k": ratio(probe.get("recall_sum", 0.0), probe.get("recall_n", 0.0)),
        "trace.overhead_s": extra["overhead_s"],
    })
    return out


def run_guest(ctx, name: str) -> tuple[list[float], dict]:
    """Build the guest workload's inputs, warm it up untraced, then run
    ``GUEST_REPS`` traced repetitions and its end-of-run checks; returns
    the repetitions' timed seconds and the values of its extra metrics.
    Its correctness checks count like the host's."""
    from workloads import WORKLOADS

    guest = WORKLOADS[name]()
    tracer = ctx.tracer
    tracer.enabled = False
    try:
        guest.build_inputs(ctx)
        for i in range(guest.WARM_REPS):
            guest.rep(ctx, i)
        times = []
        for i in range(guest.WARM_REPS, guest.WARM_REPS + GUEST_REPS):
            tracer.enabled = True
            try:
                with tracer.trace(f"guest-{i}"):
                    times.append(guest.rep(ctx, i).op_s)
            finally:
                tracer.enabled = False
        return times, {k: v[0] for k, v in guest.finish(ctx).items()}
    finally:
        guest.release()


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    workdir = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    _prepare_env(workdir)
    import anofox_forecast_spark  # noqa: F401  fail before starting a JVM if absent
    from spans import Tracer
    from status import StatusProbe
    from workloads import WORKLOADS, Ctx, median, rate

    os.makedirs(workdir, exist_ok=True)

    clock = time.perf_counter
    wl = WORKLOADS[workload]()
    tracer = Tracer(enabled=trace)
    spark = None
    try:
        with tracer.trace("session"), tracer.span("session"):
            spark = start_session(workdir)
            probe = StatusProbe(spark)
            if trace:
                tracer.probe = probe
                tracer.label = spark.sparkContext.setJobDescription
        boot_s = clock() - T_START
        ctx = Ctx(spark, seed, tracer, workdir, clock)

        rounds = []
        for r in range(SETUP_ROUNDS):
            if r:
                wl.release()
            with tracer.trace(f"setup-{r}"):
                _, dt = ctx.timed(lambda: wl.build_inputs(ctx))
            rounds.append(dt)
        cache_mb = probe.cached_mb()
        tracer.enabled = False
        warm_s = sum(ctx.timed(lambda: wl.rep(ctx, i))[1] for i in range(wl.WARM_REPS))
        setup_s = boot_s + median(rounds) + warm_s

        reps, traced_s, untraced_s = [], [], []
        t_meas = clock()
        i = wl.WARM_REPS
        while True:
            traced = trace and (i - wl.WARM_REPS) % 4 in (1, 2)  # ABBA: U T T U U T T ...
            tracer.enabled = traced
            try:
                with tracer.trace(f"rep-{i}"):
                    out = wl.rep(ctx, i)
            except Exception:
                traceback.print_exc()
                break
            finally:
                tracer.enabled = False
            (traced_s if traced else untraced_s).append(out.op_s)
            if not traced:
                reps.append(out)
            i += 1
            if (clock() - t_meas >= seconds and len(reps) >= wl.MIN_REPS
                    and (not trace or (traced_s and untraced_s))):
                break
        t_done = clock()
        if not reps:
            raise RuntimeError("no repetition completed")

        finished = wl.finish(ctx)
        extra = {k: v[0] for k, v in finished.items()}
        guest_s, guest_extra = [], {}
        if trace and workload in TRACED_GUEST:
            guest_s, guest_extra = run_guest(ctx, TRACED_GUEST[workload])
        named = {**wl.summary(reps), **finished}
        e2e = {
            "setup_s": setup_s,
            "items_per_s": rate(reps),
            "op_p50_s": median(wl.latencies(reps)),
            "cache_mb": cache_mb,
        }
        stamp = env_stamp(seed)
        print(json.dumps({"env": stamp, "workload": workload, "reps": len(reps),
                          "traced_reps": len(traced_s), "failures": ctx.failures[:20],
                          "phases_s": {"boot": boot_s, "input_builds": rounds, "warm": warm_s,
                                       "measure": t_done - t_meas,
                                       "reps": [r.op_s for r in reps]}}))
        for name, unit in END_TO_END:
            print(f"{name} {e2e[name]:.6g} {unit}")
        for name, (value, unit, *note) in named.items():
            print(f"{name} {value:.6g} {unit}" + (f" ({note[0]})" if note else ""))
        fail_ratio = ctx.failed / max(ctx.attempted, 1)
        print(f"fail_ratio {fail_ratio:.6g} ratio ({ctx.failed}/{ctx.attempted})")

        if trace:
            overhead = median(traced_s) - median(untraced_s)
            layers = layer_metrics(tracer, {"rep": len(traced_s), "guest": len(guest_s)}, SETUP_ROUNDS,
                                   {"cache_mb": cache_mb, "overhead_s": overhead, **extra, **guest_extra})
            metrics = {name: {"value": layers[name], "unit": unit} for name, unit in per_layer_catalogue()}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{workload}-seed{seed}.trace.json")
            with open(path, "w") as f:
                json.dump({"env": stamp, "workload": workload, "end_to_end": e2e,
                           "overhead_s": overhead, "traced_rep_s": traced_s,
                           "untraced_rep_s": untraced_s, "guest_rep_s": guest_s, "layers": layers,
                           "spans": [sp.as_dict() for sp in tracer.spans]}, f)
            print(f"trace written to {os.path.relpath(path, ROOT)}; tracing overhead {overhead:.4g} s per repetition")
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                          "failed": ctx.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))  # only when no other run uses it
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tiers_batch", "series_batch", "ingest_mixed", "webtext_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
