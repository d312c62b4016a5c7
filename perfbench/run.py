"""The repository's benchmark: run one workload through the program's public
entry points, check every output, print the metrics.

    python3 perfbench/run.py --workload fused_tokens --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout; it writes only under .perfbench_work/.
The session comes from the program's own factory, `session.build_session`,
on local[2] with a driver heap sized from /proc/meminfo. One run is: session
start, untimed generation of the workload's input from --seed in that
session, one warm-up pass (start + warm-up pass = `setup_s`), then at least
four timed passes, more until --seconds of pass time are spent; the medians
reported leave out the first two, in which the JIT is still compiling. The
warm-up and every timed pass are followed by an untimed output check. With
--trace 1 the run instead times each layer as a cumulative prefix and
prints the per-layer metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

ROWS = 100_000  # fused rows = filelog lines per pass
DOCS = 5_000  # dataprep corpus, the size of the sf0.1 documents table
# Spark task slots. Besides its task threads a pass keeps the JIT, the GC and
# a Python worker per task busy, so one slot per core runs more busy threads
# than cores: no faster on four cores, more CPU, and timed by the scheduler
CORES = 2
# the JIT is still compiling during the first timed passes (the first two run
# slower and use more CPU than the ones after), so they are left out of the
# medians
WARMING = 2
MIN_PASSES = WARMING + 2
DATAPREP_HOST = "collector_yaml"  # whose traced run also measures the dataprep suites

END_TO_END = {
    "throughput_rows_per_s": "rows/s",
    "wall_s": "s",
    "cpu_s": "s",
    "output_bytes_per_row": "B",
    "setup_s": "s",
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _driver_heap() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _environment() -> None:
    """Point Spark, its Python workers and every temp file at the checkout."""
    for need in ("opentelemetry_collector_contrib_spark/session.py", "__spark_entry__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _die(f"{need} not found: run from the root of a checkout of the program")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, len(os.sched_getaffinity(0))))
    os.environ["SPARK_DRIVER_MEMORY"] = _driver_heap()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    sys.path[:0] = [ROOT, HERE]


def _check_oracle():
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _check(job, counts) -> list[str]:
    """The workload's output check; a check that cannot even read the
    output is a failed check too."""
    try:
        return job.check(counts)
    except Exception as e:  # reported and counted, the run goes on
        traceback.print_exc()
        return [f"{job.name}: output check raised {type(e).__name__}"]


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool, rows: int = ROWS, docs_n: int = DOCS) -> dict:
    import inputs
    import workloads as wl
    from probes import ProcTree, SparkStores, Spans, node_sum

    from opentelemetry_collector_contrib_spark.session import build_session

    oracle = docs = None
    if trace and workload == DATAPREP_HOST:
        import __spark_entry__

        oracle = _check_oracle()
        docs = inputs.documents(os.path.join(WORK, "inputs"), seed, docs_n, __spark_entry__.oracle_sql(), oracle)
    out_dir = os.path.join(WORK, "out", workload)
    shutil.rmtree(out_dir, ignore_errors=True)

    spans = Spans()
    errors: list[str] = []
    walls, cpus = [], []
    failed_passes = 0
    metrics: dict[str, float] = {}
    with ProcTree() as procs:
        t0 = time.perf_counter()
        spark = build_session(app_name=f"perfbench-{workload}", extra_conf={"spark.ui.showConsoleProgress": "false"})
        start_s = time.perf_counter() - t0
        try:
            _log(f"session started in {start_s:.1f} s")
            t1 = time.perf_counter()
            kind = wl.WORKLOADS[workload]
            inp = kind.generate(spark, os.path.join(WORK, "inputs", workload), seed, rows)
            _log(f"input generated in {time.perf_counter() - t1:.1f} s")
            stores = SparkStores(spark)
            job = kind(spark, inp, out_dir)
            t1 = time.perf_counter()
            with spans.span("warmup", "setup"):
                counts = job.run_pass()
            warmup_s = time.perf_counter() - t1
            py_start = node_sum(stores.executions_since((-1, -1)), "", wl.PY_START)
            errors += _check(job, counts)
            _log(f"warm-up pass {warmup_s:.1f} s")

            mark = stores.mark()
            attempted = 0
            meter = wl.Meter(stores, procs, spans)
            if trace:
                # the untraced passes of a timed run first, so the layers are
                # timed in a warm JVM and the traced full pass has warm
                # untraced passes to be compared with; then traced passes
                # until --seconds of pass time are spent, at least one
                plain_walls = []
                for _ in range(MIN_PASSES):
                    plain, counts = meter.measure("pass", "untraced", job.run_pass)
                    plain_walls.append(plain.wall)
                    errors += _check(job, counts)
                traced_walls, full_walls = [], []
                layer_runs: list[dict] = []
                while not traced_walls or sum(plain_walls) + sum(traced_walls) < seconds:
                    pass_id = f"traced-{len(traced_walls)}"
                    m: dict[str, float] = {}
                    t = time.perf_counter()
                    full, counts = job.traced_pass(meter, pass_id, m)
                    traced_walls.append(time.perf_counter() - t)
                    full_walls.append(full.wall)
                    errors += _check(job, counts)
                    layer_runs.append(m)
                attempted = len(plain_walls) + len(traced_walls)
                for key in layer_runs[0]:
                    metrics[key] = wl.median([m[key] for m in layer_runs])
                metrics["trace.overhead_ratio"] = wl.median(full_walls) / wl.median(plain_walls[WARMING:]) - 1.0
                if docs is not None:
                    errors += wl.dataprep_traced(spark, docs, meter, "dataprep", metrics, oracle)
            else:
                while len(walls) < MIN_PASSES or sum(walls) < seconds:
                    attempted += 1
                    j0, p0 = procs.cpu()
                    t = time.perf_counter()
                    try:
                        counts = job.run_pass()
                    except Exception:  # a failed pass is counted, not fatal
                        traceback.print_exc()
                        failed_passes += 1
                        break
                    walls.append(time.perf_counter() - t)
                    j1, p1 = procs.cpu()
                    cpus.append((j1 - j0) + (p1 - p0))
                    _log(f"pass {walls[-1]:.2f} s, cpu jvm {j1 - j0:.2f} py {p1 - p0:.2f}")
                    pass_errors = _check(job, counts)
                    failed_passes += bool(pass_errors)
                    errors += pass_errors
            stages = stores.stages_since(mark)
            output_bytes = job.output_bytes()
            peak_rss = procs.peak_rss_mb()
        finally:
            inputs.stop_session(spark)
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    spans.dump(os.path.join(WORK, "trace", f"{workload}-s{seed}-t{int(trace)}.json"))

    failed_tasks = sum(s["failed_tasks"] for s in stages)
    tasks = sum(s["tasks"] for s in stages)
    if trace:
        names = wl.per_layer_metrics()
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warmup_s
        metrics["session.py_worker_start_s"] = py_start
        metrics["session.peak_rss_mb"] = peak_rss
        # a layer this workload does not run did no work: it reads 0
        values = {k: metrics.get(k, 0.0) for k in names}
        units = names
    else:
        wall = wl.median(walls[WARMING:])
        values = {
            "throughput_rows_per_s": job.rows / wall if wall else 0.0,
            "wall_s": wall,
            "cpu_s": wl.median(cpus[WARMING:]),
            "output_bytes_per_row": output_bytes / job.rows,
            "setup_s": start_s + warmup_s,
        }
        units = END_TO_END
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    return {
        "correct": not errors and failed_passes == 0 and failed_tasks == 0,
        "attempted": attempted + tasks,
        "failed": failed_passes + failed_tasks,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
        "input": {"rows": job.rows, "bytes": job.input_bytes, "seed": seed},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["fused_tokens", "collector_yaml"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--rows", type=int, default=ROWS, help="input rows (the self-test runs a tiny size)")
    p.add_argument("--docs", type=int, default=DOCS, help="dataprep corpus documents")
    args = p.parse_args(argv)
    _environment()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.rows, args.docs)
    print(json.dumps({"input": result["input"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
