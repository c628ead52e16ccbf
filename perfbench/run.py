"""Benchmark of the sigraph-spark KG pipeline.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client drives one workload
on one Spark session (``local[k]``, k = min(4, cores)): each op starts
when the previous one returns. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
with ``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json,
with ``--trace 1`` the per-layer ones. The line before it holds the run's
diagnostics (host probes, sample counts, set-up breakdown). Everything
the run writes stays under ``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# JVM heap pinned (and touched up front) so the tree's RSS does not
# depend on how far G1 chooses to grow the heap
DRIVER_MEM = "1g"
MAX_CORES = 4


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's directory, and make the package importable by the workers."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM the launcher starts: no hsperfdata file in the system tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir,
        })
    return conf


def _storage_mb(sc) -> float:
    """Block-manager memory in use across executors (checkpoints and
    cached blocks), from ``getExecutorMemoryStatus``."""
    status = sc._jsc.sc().getExecutorMemoryStatus()
    it = status.iterator()
    used = 0
    while it.hasNext():
        mem = it.next()._2()
        used += mem._1() - mem._2()
    return used / (1 << 20)


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: str = "full",
        out_dir: str | None = None) -> dict:
    """One run: set up, measure ops for ``seconds``, check the outputs.

    No op is discarded as warm-up: a rebuild or an ingest run as a job
    pays a fresh process every time, and one op costs 15-20 s, so a run
    measures the first op of a fresh session (README.md)."""
    out_dir = out_dir or os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    from perfbench import host
    from perfbench.workloads import SIZES

    diag = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "host_before": host.host_probe()}
    try:
        res = _run(workload, seed, seconds, trace, SIZES[sizes], work, out_dir, diag)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res


def _run(workload, seed, seconds, trace, sizes, work, out_dir, diag) -> dict:
    from perfbench import host, stats
    from perfbench.workloads import WORKLOADS
    from sigraph_spark.session import build_session

    k = min(MAX_CORES, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{workload}", master=f"local[{k}]",
                          shuffle_partitions=k, extra_conf=_session_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    setup = {"session_s": time.perf_counter() - t0}
    tracer = None
    try:
        if trace:
            from perfbench.tracer import Tracer

            tracer = Tracer(spark)
            tracer.install()
            tracer.begin_op("setup")
        wl = WORKLOADS[workload](spark, seed, work, sizes, tracer)
        wl.setup()
        setup["input_s"] = wl.timings["input_s"]
        setup["prebuilt_s"] = wl.timings["prebuilt_s"]
        setup_s = time.perf_counter() - T_START

        sampler = host.RssSampler()
        cpu0 = host.tree_cpu_s()
        sampler.start()
        ops: list[tuple[int, float, dict | None]] = []
        errors: set[int] = set()
        storage = []
        t_window = time.perf_counter()
        while time.perf_counter() - t_window < seconds:
            k_op = len(ops)
            if tracer:
                tracer.begin_op(f"op-{k_op}")
            t = time.perf_counter()
            try:
                res = wl.op(k_op)
            except Exception:  # an op that raises is a failed op
                traceback.print_exc()
                res = None
                errors.add(k_op)
            ops.append((k_op, time.perf_counter() - t, res))
            storage.append(_storage_mb(spark.sparkContext))
        diag["window_s"] = time.perf_counter() - t_window
        cpu_s = host.tree_cpu_s() - cpu0
        peak_rss = sampler.stop()
        diag["host_after"] = host.host_probe()

        if tracer:
            tracer.begin_op("check")
        t0 = time.perf_counter()
        done = [(k, r) for k, _, r in ops if r is not None]
        failed = errors | wl.check([k for k, _ in done])
        stored_ratio = wl.stored_per_input(done) if done else 0.0
        diag["check_s"] = time.perf_counter() - t0
    finally:
        if tracer:
            tracer.uninstall()
        spark.stop()

    times = [t for _, t, _ in ops]
    items = sum(r["items"] for _, r in done)
    tail = stats.tail(times)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "op_tail_s": (tail["value"], "s"),
        "items_per_s": (items / sum(times), "1/s"),
        "cpu_s_per_op": (cpu_s / len(ops), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "stored_bytes_per_input_byte": (stored_ratio, "ratio"),
        "ok_op_ratio": ((len(ops) - len(failed)) / len(ops), "ratio"),
    }
    diag.update({
        "setup": setup, "op_s": times, "ops": len(ops), "failed_ops": sorted(failed),
        "tail": tail, "item": wl.item, "failed_op_ratio": len(failed) / len(ops),
        "storage_mb_max": max(storage),
    })
    result = {"e2e": e2e, "diag": diag, "attempted": len(ops), "failed": len(failed)}
    if not tracer:
        with open(os.path.join(out_dir, f"untraced-{workload}-seed{seed}.json"), "w") as f:
            json.dump({"op_p50_s": e2e["op_p50_s"][0]}, f)
    else:
        from perfbench import layers

        result["layers"] = layers.per_layer_metrics(
            tracer, os.path.join(work, "eventlog"), setup, storage, times, out_dir, workload, seed)
        tracer.dump(os.path.join(out_dir, f"trace-{workload}-seed{seed}.json"), result["layers"])
    return result


def _stop_jvm() -> None:
    """End the driver JVM (and with it the Python workers it started) by
    closing the gateway's stdin, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": source[m["name"]][0], "unit": m["unit"]} for m in wanted}
    print(json.dumps(res["diag"]))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
