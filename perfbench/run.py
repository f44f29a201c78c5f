"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload feed_serve_ingest --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. The line before it (``perfbench report: {...}``) carries
provenance and everything that is not scored: ops attempted/failed per kind,
p50, p95 (or why it was refused), ingest rows/s, set-up components, median
latency per shape or query, the rate of each pass or cycle, per-span
times and the host's CPU steal.

The session is pinned to the host: ``local[nproc - 1]`` with shuffle
partitions to match, a fixed 1 GB driver heap, and every temporary file
(Spark local dirs, JVM and Python temp dirs, the generated tables and the
post store) under ``.perfbench_tmp/`` in the checkout, removed at exit. Traces go to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def pin_environment(tmp: str) -> int:
    """Size the session to this host (``local[nproc - 1]``, shuffle
    partitions to match, a fixed 1 GB driver heap) and keep every temporary
    file of Python, the JVM and Spark under ``tmp``. Returns the number of
    Spark task threads.

    One CPU is left to the driver's Python (plan translation, HTTP, JSON)
    and the JVM's compiler and collector threads. With a task thread on
    every CPU, a stage stalls whenever anything else runs: on a 4-core VM,
    batch runs during which the hypervisor gave 3-8% of the CPU time to
    other guests ran 25-30% slower, and with three task threads they did
    not slow down.

    The heap starts at its maximum, as a server's would: a heap that grows
    on demand resizes at moments that vary from run to run, which made the
    JVM's peak RSS jump by ~300 MB between runs of the same code and served
    feeds ~20% slower (4-core VM)."""
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        PYSPARK_SUBMIT_ARGS=shlex.join([
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "--conf", "spark.ui.retainedJobs=100000", "--conf", "spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]),
    )
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    return cpus


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "query_engine_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    """HEAD of the checkout, or None outside a git work tree (the source
    digest identifies the code there)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def calibration_s(spark) -> float:
    """Fixed hash + 1000-key shuffle + sum over spark.range (bench.py's
    anchor, at a sixth of its size): host speed, not code speed."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(0, 8_000_000, 1, 8).select((F.hash("id") % 1000).alias("k"), "id")
     .groupBy("k").agg(F.sum("id")).write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and everything it started, and wait."""
    from pyspark import SparkContext

    from perfbench.metrics import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _p50_by_shape(ops) -> dict[str, float]:
    """Median latency (ms) per request shape or query name."""
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.key.split("#")[0], []).append((o.end - o.start) * 1000)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def e2e_metrics(workload, win, setup_s: float, rss_mb: dict[str, float]) -> tuple[dict, dict]:
    from perfbench.metrics import mix_median, p50, p95

    ops = [o for o in win.ops if o.kind in workload.op_kinds]
    lat = [(o.end - o.start) * 1000 for o in ops]
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": win.rate(workload.op_kinds), "unit": "1/s"},
        "latency_ms": {"value": mix_median([(o.key, v) for o, v in zip(ops, lat)]), "unit": "ms"},
        "peak_rss_mb": {"value": sum(rss_mb.values()), "unit": "MB"},
    }
    tail = p95(lat)
    unscored = {
        "latency_samples": {"value": len(lat), "unit": "count"},
        "latency_p50_ms": {"value": p50(lat), "unit": "ms"},
        "latency_p95_ms": {"value": tail, "unit": "ms"} if tail is not None else
        {"refused": f"fewer than 10 of {len(lat)} samples lie beyond p95"},
        "peak_rss_mb_by_process": {"value": rss_mb, "unit": "MB"},
        "latency_p50_ms_by_shape": {"value": _p50_by_shape(ops), "unit": "ms"},
    }
    if win.rows_ingested:
        unscored["ingest_rows_per_s"] = {"value": win.rows_ingested / win.ingest_s, "unit": "rows/s"}
    return metrics, {"unscored": unscored}


def layer_metrics(workload, tracer, win, untraced_ops_per_s: float, calib: float) -> tuple[dict, dict]:
    from perfbench.trace import LAYERS, summarize
    from perfbench.workloads import BATCH_QUERIES

    s = summarize(tracer, workload.op_kinds, http_root=workload.http)
    n = max(1, s["ops"])
    wall = s["wall_s"] or 1.0
    ops = [o for o in win.ops if o.kind in workload.op_kinds]
    traced_ops_per_s = len(ops) / (win.end - win.start)
    ing = summarize(tracer, {"ingest"}, http_root=False)
    counts = tracer.counts

    def span_ms(name: str, summary=s) -> float:
        """Inclusive ms of a wrapped entry point per op of ``summary``."""
        return summary["inclusive_s"].get(name, 0.0) * 1000 / max(1, summary["ops"])

    m = {
        "api.request_ms": (span_ms("api.generate_feed_skeleton"), "ms"),
        "api.http_overhead_ms": (s["http_s"] * 1000 / n, "ms"),
        "plans.translate_ms": (span_ms("plans.translate_pipeline"), "ms"),
        "registry.construct_ms": (span_ms("registry.construct"), "ms"),
        "sources.load_table_ms": (span_ms("sources.load_table"), "ms"),
        "cache.clear_ms": (span_ms("cache.clear"), "ms"),
        "store.ingest_ms": (span_ms("store.ingest", ing), "ms"),
        "store.view_ms": (span_ms("store.serving_view", ing), "ms"),
        "catalyst.analysis_ms": (s["catalyst_ms"].get("analysis", 0.0), "ms"),
        "catalyst.optimization_ms": (s["catalyst_ms"].get("optimization", 0.0), "ms"),
        "catalyst.planning_ms": (s["catalyst_ms"].get("planning", 0.0), "ms"),
        "spark.exec_ms": (s["layer_s"].get("spark", 0.0) * 1000 / n, "ms"),
        "spark.jobs_per_op": (s["jobs_per_op"], "count"),
        "spark.stages_per_op": (s["stages_per_op"], "count"),
        "spark.tasks_per_op": (s["tasks_per_op"], "count"),
        "spark.construct_jobs_per_op": (s["construct_jobs_per_op"], "count"),
        "scripting.udf_blocks": (counts["scripting.udf_blocks"], "count"),
        "sources.load_table_calls_per_op": (counts["sources.load_table"] / n, "count"),
        "cache.persists_per_op": (counts["cache.persists"] / n, "count"),
        "cache.freed_per_op": (counts["cache.freed"] / n, "count"),
        "store.ingest_jobs_per_batch": (ing["jobs_per_op"], "count"),
        "store.ingest_rows_per_s": (win.rows_ingested / win.ingest_s if win.ingest_s else 0.0, "rows/s"),
        "store.bytes_written_per_row": (win.bytes_written / win.rows_ingested if win.rows_ingested else 0.0, "B"),
        "store.files": (getattr(workload, "store_files", 0), "count"),
        "trace.layer_sum_pct": (100 * sum(v for k, v in s["layer_s"].items() if k != "bench") / wall, "%"),
        "trace.overhead_pct": (100 * (untraced_ops_per_s / traced_ops_per_s - 1), "%"),
        "trace.ops": (s["ops"], "count"),
        "host.calibration_s": (calib, "s"),
    }
    for layer in LAYERS:
        m[f"self.{layer}_pct"] = (100 * s["layer_s"].get(layer, 0.0) / wall, "%")
    by_query = _p50_by_shape(o for o in ops if o.kind == "query")
    for q in BATCH_QUERIES:
        m[f"batch.{q}_s"] = (by_query.get(q, 0.0) / 1000, "s")
    extra = {
        "span_ms_per_op": {k: span_ms(k) for k in sorted(s["inclusive_s"])},
        "ingest_ops": ing["ops"],
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, extra


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "query_engine_spark", "api.py")):
        return fail(f"no query_engine_spark/ under {ROOT}: run from the repository root")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return run(args, WORKLOADS[args.workload], tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def run(args, workload_cls, tmp: str) -> int:
    from perfbench.metrics import cpu_ticks, process_age_s, vm_hwm_kb
    from perfbench.trace import Tracer

    ticks0 = cpu_ticks()
    cpus = pin_environment(tmp)
    # set-up time runs from process start to warm and ready, less the
    # harness's own work: generating the tables (before the session starts)
    # and checking the warm-up against the oracles (after it is ready)
    wl = workload_cls(ROOT, os.path.join(tmp, "data"), args.seed)
    t0 = time.perf_counter()
    wl.write_inputs()
    inputs_s = time.perf_counter() - t0
    from query_engine_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = process_age_s() - inputs_s
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        wl.warm()
        warm_s = time.perf_counter() - t0 - prepare_s
        setup_s = session_s + prepare_s + warm_s
        t0 = time.perf_counter()
        wl.check_warm()
        check_s = time.perf_counter() - t0
        # untimed units (batch passes, ingest cycles) for half the window
        # before it: after the warm-up the rate still climbs by a third over
        # ~25 s while the JVM keeps compiling, and how fast it climbs varies
        # from run to run (4-core VM)
        t0 = time.perf_counter()
        prime = wl.run(args.seconds / 2)
        prime_s = time.perf_counter() - t0

        report = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)), "spark_cores": cpus, "spark": spark.version, "python": platform.python_version(),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "git_sha": git_sha(), "source_sha256_16": source_digest(),
            "setup": {"session_s": session_s, "prepare_s": prepare_s, "warm_s": warm_s,
                      "untimed_inputs_s": inputs_s, "untimed_check_s": check_s, "untimed_prime_s": prime_s},
        }
        if args.trace:
            # three windows of a third each with the same single client:
            # untraced, traced, untraced. The overhead compares the traced one
            # with both neighbours, so a drift in speed across the run (the
            # first window is often the slowest) cancels.
            third = args.seconds / 3
            before = wl.run(third, clients=1)
            tracer = Tracer(spark)
            wl.tracer = tracer
            tracer.install(server=getattr(wl, "server", None))
            try:
                win = wl.run(third, clients=1)
            finally:
                tracer.uninstall()
                wl.tracer = None
            after = wl.run(third, clients=1)
            base = [o for w in (before, after) for o in w.ops if o.kind in wl.op_kinds]
            untraced = len(base) / (before.end - before.start + after.end - after.start)
            wl.after()
            metrics, extra = layer_metrics(wl, tracer, win, untraced, calibration_s(spark))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s) + "\n")
            windows = [prime, before, win, after]
        else:
            win = wl.run(args.seconds)
            wl.after()
            rss_mb = {"driver": vm_hwm_kb() / 1024, "jvm": vm_hwm_kb(jvm_pid) / 1024}
            metrics, extra = e2e_metrics(wl, win, setup_s, rss_mb)
            windows = [prime, win]
        wl.close()
    finally:
        stop_session(spark)

    ops = [o for w in windows for o in w.ops]
    failures = [f"{o.kind} {o.key}: {o.failure}" for o in ops if o.failure]
    report.update(extra)
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    # CPU time the hypervisor gave to other guests during the run: a high
    # share slows every metric at once and is host drift, not a code change
    report["host_steal_pct"] = 100 * steal / max(1, total)
    report["ops"] = {k: {"ops_attempted": {"value": sum(o.kind == k for o in ops), "unit": "count"},
                         "ops_failed": {"value": sum(o.kind == k and bool(o.failure) for o in ops), "unit": "count"}}
                     for k in sorted({o.kind for o in ops})}
    report["unit_rates"] = [sum(o.kind in wl.op_kinds and a <= o.start < b for o in win.ops) / (b - a)
                            for a, b in win.units]
    report["problems"] = wl.problems + failures[:20]
    print("perfbench report: " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": not wl.problems and not failures,
        "attempted": len(ops),
        "failed": len(failures) + len(wl.problems),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
