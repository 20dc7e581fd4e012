"""Benchmark of the openair_spark engine: two workloads (pipeline, join)
run against the engine's public functions in a closed loop (one driver,
one job at a time) on a local[N] session from the engine's own
`spark/session.py::get_spark`.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 15 --trace 0

Run it from the repository root. It generates its inputs from --seed
(cached under .bench_cache/), sets up several times, runs a cold
sample, then runs samples for --seconds seconds and checks every
sample's output. It prints a
report, and as its last line one JSON object with `correct`, `attempted`,
`failed` and the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). It exits 1 when any output check fails. On every way out it
stops the JVM and waits until every process it started has ended.

--trace 1 first measures like --trace 0 (with one set-up) for half of
--seconds, then sets up a second session with the Spark event log on,
runs a cold sample and reruns the samples inside spans for the other
half, so the difference of the two wall times is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
SETUPS = 3  # set-ups per run; setup_s is their median
STEADY = 3  # steady samples per run at least

LAYERS = ["spark.extract", "spark.pipeline", "ops.checkpoint", "ops.tiling",
          "ops.h3tiles", "ops.s2tiles", "ops.pip", "ops.pip.shuffle", "ops.knn",
          "ops.raster"]
GENERIC = ["self_s", "driver_s", "executor_cpu_s", "python_s", "arrow_in_mb",
           "arrow_out_mb", "rows_out", "task_max_over_median", "gc_s"]
SPECIFIC = ["spark.extract.payload_pages", "spark.pipeline.error_rows",
            "ops.checkpoint.bytes_written_mb", "ops.tiling.cells", "ops.tiling.full_frac",
            "ops.h3tiles.cells", "ops.h3tiles.full_frac", "ops.s2tiles.cells",
            "ops.s2tiles.full_frac", "ops.pip.index_rows", "ops.pip.probe_rows",
            "ops.pip.candidates", "ops.pip.hits", "ops.pip.hit_ratio",
            "ops.pip.shuffle.shuffle_mb", "ops.pip.shuffle.spill_mb",
            "ops.knn.fallback_points", "ops.raster.assigned_rows",
            "trace.wall_s", "trace.overhead_s"]


def _launch_env() -> None:
    """Observation-only settings applied at launch, engine untouched: no
    console progress bar, all scratch files inside the checkout, and the
    uncompressed single-file event log when tracing."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')} pyspark-shell")


def _event_log_on(spark, log_dir: str) -> None:
    """Switch the event log on for the next SparkContext in this JVM."""
    os.makedirs(log_dir, exist_ok=True)
    system = spark.sparkContext._jvm.java.lang.System
    for key, value in (("spark.eventLog.enabled", "true"),
                       ("spark.eventLog.dir", f"file://{log_dir}"),
                       ("spark.eventLog.rolling.enabled", "false"),
                       ("spark.eventLog.compress", "false")):
        system.setProperty(key, value)


def _session(cpus: int):
    from openair_spark.spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _host(spark) -> dict:
    import pyarrow

    try:
        # the ceiling keeps git from looking for a repository above the checkout
        env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10, env=env).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": os.cpu_count(), "loadavg": os.getloadavg(),
        "spark": spark.version, "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__, "git_commit": commit,
    }


def quartiles(values: list[float]) -> list[float]:
    from statistics import quantiles

    return quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3


def run_samples(wl, spark, st, tracer, seconds: float, meter, least: int) -> list[dict]:
    """Closed loop: one sample at a time until `seconds` have passed, and
    at least `least` samples."""
    samples = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(samples) < least:
        rec = {"ok": False}
        with tracer.span(wl.name):
            try:
                rec["digests"], rec["items"], rec["counts"] = wl.sample(spark, st, tracer, meter)
                rec.update(ok=True, wall_s=meter.wall_s, cpu_s=meter.cpu_s,
                           steal_frac=meter.steal_frac, peak_rss_mb=meter.peak_rss_mb)
            except Exception:  # a failed sample is counted, and the loop goes on
                traceback.print_exc()
        samples.append(rec)
    return samples


def check_samples(samples: list[dict], expected: dict | None) -> int:
    """Mark samples whose digests differ from the reference (the recorded
    digests for this seed, else the first good sample); returns failures."""
    ok = [s for s in samples if s["ok"]]
    ref = expected or (ok[0]["digests"] if ok else None)
    for s in ok:
        if s["digests"] != ref or s["digests"].get("pip routes agree", "True") != "True":
            s["ok"] = False
    return sum(not s["ok"] for s in samples)


def good(samples: list[dict]) -> list[dict]:
    return [s for s in samples if s["ok"]]


def layer_metrics(wl, log, spans, samples) -> dict:
    """Per-layer metrics of the traced samples, per sample."""
    from tracing import clip, find, first_with_rows, self_times, union_length

    n = max(len(samples), 1)
    selfs = self_times(spans)
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        jobs = log.job_intervals(layer)
        driver = sum(max(0.0, selfs[s["id"]] - union_length(clip(jobs, s["start"], s["end"])))
                     for s in mine)
        tasks = log.task_totals(layer)
        out.update({
            f"{layer}.self_s": sum(selfs[s["id"]] for s in mine) / n,
            f"{layer}.driver_s": driver / n,
            f"{layer}.executor_cpu_s": tasks["cpu_s"] / n,
            f"{layer}.python_s": tasks["python_s"] / n,
            f"{layer}.arrow_in_mb": tasks["arrow_in_mb"] / n,
            f"{layer}.arrow_out_mb": tasks["arrow_out_mb"] / n,
            f"{layer}.task_max_over_median": tasks["task_max_over_median"],
            f"{layer}.gc_s": tasks["gc_s"] / n,
        })
        if layer == "ops.pip.shuffle":
            out[f"{layer}.shuffle_mb"] = tasks["shuffle_mb"] / n
            out[f"{layer}.spill_mb"] = tasks["spill_mb"] / n
    counts: dict[str, float] = {}
    for s in samples:
        for k, v in s.get("counts", {}).items():
            counts[k] = counts.get(k, 0) + v / n
    out.update(counts)
    # row counts inside the PIP broadcast plan and the kNN fallback, from
    # the SQL metrics of the plans each layer ran
    cand = probe = index = fallback = 0
    for plan in log.group_plans("ops.pip"):
        kernel = find(plan, "MapInArrow")
        if kernel is None:
            continue
        cand += log.rows(first_with_rows(kernel["children"][0]))
        probe += log.rows(find(kernel, "Generate") or {"metrics": []})
        join = find(kernel, "BroadcastHashJoin")
        for side in (join["children"] if join else []):
            if find(side, "Generate") is None:
                index += log.rows(find(side, "BroadcastExchange") or {"metrics": []})
    for plan in log.group_plans("ops.knn"):
        bnlj = find(plan, "BroadcastNestedLoopJoin")
        if bnlj is not None:
            fallback += log.rows(bnlj)
    if samples and wl.name == "join":
        out["ops.pip.candidates"] = cand / n
        out["ops.pip.probe_rows"] = probe / n
        out["ops.pip.index_rows"] = index / n
        out["ops.pip.hit_ratio"] = counts.get("ops.pip.hits", 0) / max(cand / n, 1)
        out["ops.knn.fallback_points"] = fallback / n / max(wl.n_centroids, 1)
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant that loses its own
    parent (the JVM's Python workers and launcher), so that stop_processes
    can wait for all of them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes(timeout: float = 60) -> None:
    """Stop every process this run started and wait until each has ended:
    closing the stdin of the JVM that PySpark launched makes it exit, and
    with it the Python workers it forked. What outlives `timeout` is killed."""
    from tracing import _proc_stats, _tree

    if "pyspark" in sys.modules:
        gateway = sys.modules["pyspark"].SparkContext._gateway
        if gateway is not None and gateway.proc is not None:
            gateway.proc.stdin.close()
    deadline, killed = time.monotonic() + timeout, False
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue  # reaped one; look for more
        except ChildProcessError:
            return  # no child left, running or ended
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in _tree(os.getpid(), _proc_stats())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "join"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    adopt_orphans()
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    finally:
        stop_processes()


def run(args) -> int:
    sys.path.insert(0, ROOT)
    import openair_spark  # noqa: F401  (no engine, no result: exit non-zero here)
    from tracing import EventLog, Meter, Tracer
    from workloads import WORKLOADS

    cpus = os.cpu_count()
    work_dir = os.path.join(CACHE, "work", str(os.getpid()))
    wl = WORKLOADS[args.workload](args.seed, os.path.join(CACHE, "inputs"), work_dir)
    t0 = time.perf_counter()
    wl.inputs()
    gen_s = time.perf_counter() - t0
    with open(os.path.join(HERE, "digests.json")) as fh:
        recorded = json.load(fh).get(wl.name, {})
    same_input = recorded.get("seed") == args.seed and recorded.get("sizes") == wl.sizes()
    expected = recorded.get("digests") if same_input else None

    _launch_env()
    spark = st = None
    untraced = Tracer("untraced")
    try:
        # the first set-up launches the JVM; the later ones reuse the
        # session (setup_s is not reported by a traced run)
        t0 = time.perf_counter()
        spark = _session(cpus)
        st = wl.setup(spark)
        setup_times = [time.perf_counter() - t0]
        for _ in range(0 if args.trace else SETUPS - 1):
            wl.teardown(st)
            t0 = time.perf_counter()
            st = wl.setup(spark)
            setup_times.append(time.perf_counter() - t0)
        host = _host(spark)
        meter = Meter(spark.sparkContext._gateway.proc.pid)
        # a cold sample on the set-up the steady samples use warms the JIT,
        # the query plans and the Python workers: reported, not measured
        cold = run_samples(wl, spark, st, untraced, 0, meter, 1)
        # start the steady samples from a collected heap
        spark.sparkContext._jvm.java.lang.System.gc()
        # a traced run splits its measuring time between the two sessions
        seconds = args.seconds / 2 if args.trace else args.seconds
        samples = run_samples(wl, spark, st, untraced, seconds, meter, 1 if args.trace else STEADY)
        failed = check_samples(cold + samples, expected)
        problems = wl.verify(spark, st)
        layers, traced, traced_cold = {}, [], []
        if args.trace:
            wl.teardown(st)
            log_dir = os.path.join(CACHE, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            _event_log_on(spark, log_dir)
            spark.stop()
            spark = _session(cpus)
            st = wl.setup(spark)
            # outside any span, so the event log gives its jobs to no layer
            traced_cold = run_samples(wl, spark, st, untraced, 0, meter, 1)
            run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
            tracer = Tracer(run_id, spark.sparkContext, enabled=True)
            traced = run_samples(wl, spark, st, tracer, seconds, meter, 1)
            ref = expected or next((s["digests"] for s in cold + samples if s["ok"]), None)
            failed += check_samples(traced_cold + traced, ref)
            app_id = spark.sparkContext.applicationId
            wl.teardown(st)
            spark.stop()
            spark = None
            tracer.write(os.path.join(CACHE, "trace", f"spans-{run_id}.json"))
            log = EventLog.read(os.path.join(log_dir, app_id))
            if good(traced) and good(samples):
                layers = layer_metrics(wl, log, tracer.spans, good(traced))
                layers["trace.wall_s"] = median(s["wall_s"] for s in good(traced))
                layers["trace.overhead_s"] = layers["trace.wall_s"] - median(
                    s["wall_s"] for s in good(samples))
                layers.update(wl.layer_counts)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work_dir, ignore_errors=True)

    all_samples = cold + samples + traced_cold + traced
    steady = good(samples)
    if not steady or (args.trace and not good(traced)):
        print(json.dumps({"correct": False, "attempted": len(all_samples), "failed": failed,
                          "metrics": {}}))
        return 1
    walls = [s["wall_s"] for s in steady]
    # the declared end-to-end metrics, in the last line
    e2e = {
        "setup_s": (median(setup_times), "s"),
        "cpu_s": (median(s["cpu_s"] for s in steady), "s"),
    }
    # every end-to-end number, in the report: the declared ones, wall time
    # and the rates (too noisy between runs to bound where a hypervisor
    # steals CPU time: see steal_frac), peak memory (too noisy as well: the
    # JVM grows its heap at different moments) and the failure share
    named = {k: (v, u, len(steady)) for k, (v, u) in e2e.items()}
    named["wall_s"] = (median(walls), "s", len(steady))
    named["items_per_s"] = (median(s["items"] / s["wall_s"] for s in steady), "items/s", len(steady))
    if wl.name == "pipeline":
        named["pages_per_s"] = (median(s["items"] / s["counts"]["stage.ingest_s"] for s in steady),
                                "pages/s", len(steady))
        named["cover_cells_per_s"] = (median(s["counts"]["stage.cover_cells"]
                                             / s["counts"]["stage.cover_s"] for s in steady),
                                      "cells/s", len(steady))
    else:
        named["points_per_s"] = (named["items_per_s"][0], "points/s", len(steady))
    named["peak_rss_mb"] = (median(s["peak_rss_mb"] for s in steady), "MB", len(steady))
    named["failed_frac"] = (failed / len(all_samples), "ratio", len(all_samples))
    report = {
        "workload": wl.name, "seed": args.seed, "cpus": cpus, "host": host,
        "sizes": wl.sizes(), "input_generation_s": gen_s,
        "end_to_end": {k: {"median": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
        "setup_s": {"samples": setup_times, "cold": setup_times[0]},
        "wall_s": {"samples": [s.get("wall_s") for s in samples], "cold": cold[0].get("wall_s"),
                   "steady_quartiles": quartiles(walls)},
        "cpu_s": {"samples": [s.get("cpu_s") for s in samples], "cold": cold[0].get("cpu_s")},
        "steal_frac": {"samples": [s.get("steal_frac") for s in samples]},
        "peak_rss_mb": {"samples": [s.get("peak_rss_mb") for s in samples]},
        "digests": next((s["digests"] for s in cold + samples if s["ok"]), None),
        "digests_recorded_for_seed": expected is not None,
        "problems": problems,
    }
    if args.trace:
        report["traced_wall_s"] = {"samples": [s.get("wall_s") for s in traced],
                                   "cold": traced_cold[0].get("wall_s")}
        report["layers"] = layers
    print(json.dumps(report, indent=1, default=str))
    os.makedirs(os.path.join(CACHE, "reports"), exist_ok=True)
    with open(os.path.join(CACHE, "reports", f"{wl.name}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    if args.trace:
        names = [f"{layer}.{m}" for layer in LAYERS for m in GENERIC] + SPECIFIC
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit_of(k)} for k in names}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": len(all_samples), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", "_over_median")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
