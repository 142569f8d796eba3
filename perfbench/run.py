"""Run one benchmark workload in a fresh Spark process and print its metrics.

    python3 perfbench/run.py --workload tile_build --seed 1 --seconds 10 --trace 0

A closed loop: one client issues one op at a time on local[4], and every op's
output is checked against an oracle built at setup without Spark.  The last
line of stdout is the result (``correct``, ``attempted``, ``failed``,
``metrics``); the line before it records the run's context (host speed
before and after, pinned resources, op samples, the set-up split).

--trace 0 reports the end-to-end metrics; --trace 1 runs traced ops and
reports the per-layer metrics, and the tracing overhead.

Inputs are generated once per seed under .perfbench/cache in the checkout;
everything else a run writes lives in .perfbench/run-<pid> and is removed
when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "3g"
MIN_OPS = 3
TRACE_OPS = 2


def _session(name: str, cores: int, run_dir: str, trace: bool):
    from mapnik_vector_tile_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{run_dir}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"perfbench-{name}", cores=cores,
                     shuffle_partitions=cores, extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, then the JVM and every process left under us."""
    import proctree
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = proctree.descendants()
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + 10
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = proctree.descendants()
        if not left:
            break
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _timed_ops(wl, seconds: float, min_ops: int = MIN_OPS):
    import proctree

    walls, peaks, items, failed = [], [], 0, 0
    cpu0 = proctree.cpu_seconds()
    host0 = proctree.host_cpu_s()
    t_start = time.perf_counter()
    with proctree.PeakPss() as pss:
        while len(walls) < min_ops or time.perf_counter() - t_start < seconds:
            t0 = time.perf_counter()
            try:
                n, ok = wl.op()
            except Exception as exc:  # a failed op counts; the loop goes on
                print(f"perfbench: op raised {exc!r}", file=sys.stderr)
                n, ok = 0, False
            walls.append(time.perf_counter() - t0)
            peaks.append(pss.mark())
            items += n if ok else 0
            failed += 0 if ok else 1
    cpu = proctree.cpu_seconds() - cpu0 - pss.thread_cpu_s
    host = {k: v - host0[k] for k, v in proctree.host_cpu_s().items()}
    return walls, items, failed, cpu, peaks, host


def run(args, spec: dict, cores: int, cache: str, run_dir: str) -> tuple[dict, dict]:
    import bench
    import layers
    import workloads as W

    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "driver_memory": DRIVER_MEMORY, "shuffle_partitions": cores,
            "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "image_rows": W.IMAGE_ROWS, "host_speed_before": bench.host_speed_index(trials=1)}
    t0 = time.perf_counter()
    wl = W.WORKLOADS[args.workload](cache, run_dir, args.seed)
    info["input_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = _session(args.workload, cores, run_dir, bool(args.trace))
    try:
        info["session_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.setup(spark)
        info["setup_only_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        info["warmup_walls_s"] = W.warm_up(wl)
        info["warmup_s"] = time.perf_counter() - t0
        setup_s = info["session_s"] + info["setup_only_s"] + info["warmup_s"]

        if args.trace:
            walls, items, failed, _, peaks, _ = _timed_ops(wl, 0, TRACE_OPS)
            tracer = layers.Tracer(spark)
            per_layer = wl.trace(tracer, TRACE_OPS)
            op_spans = tracer.named("op")
            per_layer["trace.overhead_s"] = (
                statistics.median(r["s"] for r in op_spans) - statistics.median(walls))
        else:
            walls, items, failed, cpu, peaks, host = _timed_ops(wl, args.seconds)
            # host health over the timed ops: our tree's CPU beside the
            # machine's busy and stolen CPU
            info.update({"tree_cpu_s": cpu, "host_busy_cpu_s": host["busy"],
                         "host_steal_cpu_s": host["steal"]})
    finally:
        _stop(spark)
    info["host_speed_after"] = bench.host_speed_index(trials=1)
    info["op_walls_s"] = walls
    info["op_peak_pss_mb"] = peaks

    if args.trace:
        log = layers.EventLog(f"{run_dir}/events")
        groups = set().union(*(tracer.groups_under(r) for r in op_spans))
        n_ops = len(op_spans)
        per_layer.update({
            "spark.jobs_per_op": len(log.jobs(groups)) / n_ops,
            "spark.task_s_per_op": log.total(groups, "run_s") / n_ops,
            "spark.shuffle_mb_per_op": log.total(groups, "shuffle_bytes") / 1e6 / n_ops,
            "spark.gc_s_per_op": log.total(groups, "gc_s") / n_ops,
            "boundary.py_mb_per_op": log.total(groups, "py_bytes") / 1e6 / n_ops,
        })
        wl.layer_jobs(tracer, log, per_layer, n_ops)
        # a layer the workload does not run reports 0
        metrics = {m["name"]: {"value": float(per_layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        attempted = len(walls) + n_ops
        failed += wl.traced_failed
    else:
        values = {
            "items_per_s": items / sum(walls),
            "op_p50_s": statistics.median(walls),
            "cpu_s_per_kitem": cpu / max(items / 1000.0, 1e-9),
            "peak_pss_mb": max(peaks),
            "setup_s": setup_s,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        info["op_p50_samples"] = len(walls)
        attempted = len(walls)
    info["failed_ops_share"] = failed / attempted
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return info, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "mapnik_vector_tile_spark", "session.py")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print("perfbench: no engine sources next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # metric names and units

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(work, "cache")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = min(CORES, os.cpu_count() or CORES)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    try:
        info, result = run(args, spec, cores, cache, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
