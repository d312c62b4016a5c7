"""Two-parallelism-level scaling benchmark (north-rule evidence).

The rule's two-cluster-size criterion (N vs 4N executors, >=0.8 scaling
efficiency) cannot use a real cluster in this sandbox; per the driver
instructions it is evidenced by running the SAME job at two local
parallelism levels in separate JVMs on identical input.

This sandbox host is shared (background load from other tenants), so each
level is run `--repeats` times interleaved (A B A B ...) and the MIN wall
time per level is used — the min is the contention-free figure.

Efficiency (N -> kN cores) = throughput(kN) / (k * throughput(N)).

Usage: python tools/bench_scaling.py [--levels 8,32] [--rows 2000000]
       [--repeats 3] [--out BENCH_SCALING.json]
Prints one JSON line; optionally writes it to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cmd(cpus: int, rows: int, files_slice: str = "", cpuset: bool = False) -> list[str]:
    cmd = [
        sys.executable,
        os.path.join(REPO, "bench.py"),
        "--skip-registry",
        "--cpus", str(cpus),
        "--seq-rows", str(rows),
        "--repeats", "2",
        "--sink", "noop",
    ]
    if files_slice:
        cmd += ["--files-slice", files_slice]
    if cpuset:
        # HARD core budget: taskset confines JVM + every python worker to
        # `cpus` physical cores — the honest analog of an N-core executor
        # node. Without it local[8] quietly consumes ~13 cores (8 python
        # workers PLUS JVM scan/codegen/GC threads), so the 4x-cores
        # denominator overstates the resources of the small level and the
        # measured "efficiency" understates real cluster scaling.
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    return cmd


def run_once(cpus: int, rows: int, cpuset: bool = False) -> dict:
    """One bench.py invocation in a fresh JVM (first SparkSession pins the
    master, so every level needs its own process)."""
    out = subprocess.run(
        _cmd(cpus, rows, cpuset=cpuset),
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def run_executors(k: int, cpus_each: int, rows: int, cpuset: bool = False) -> dict:
    """Cluster-simulation level: k concurrent executor JVMs, each
    local[cpus_each], each processing its 1/k file-slice of the SAME input
    — exactly how k executors split a table scan on a real cluster (and
    how production Spark runs several executor JVMs per large node).
    Aggregate wall = slowest executor's pipeline time.

    cpuset=True pins executor i to its own disjoint cpus_each-core block —
    k isolated "nodes" (they still share one DRAM controller, which a real
    cluster would not)."""
    def cmd(i: int) -> list[str]:
        c = _cmd(cpus_each, rows, files_slice=f"{i}:{k}")
        if cpuset:
            lo = i * cpus_each
            c = ["taskset", "-c", f"{lo}-{lo + cpus_each - 1}"] + c
        return c

    procs = [
        subprocess.Popen(
            cmd(i),
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO,
        )
        for i in range(k)
    ]
    times, cpus_used = [], 0.0
    for p in procs:
        out, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError(f"executor failed rc={p.returncode}")
        r = json.loads(out.strip().splitlines()[-1])
        times.append(r["queries"]["log_pipeline_tokens"])
        cpus_used += r.get("pipeline_cpu_sec", 0.0)
    return {
        "queries": {"log_pipeline_tokens": max(times)},
        "pipeline_cpu_sec": cpus_used,
        "per_executor_sec": [round(t, 2) for t in times],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--out", default="")
    ap.add_argument(
        "--mode", default="threads",
        choices=["threads", "executors", "cpuset", "executors-cpuset"],
        help="threads: local[N] vs local[4N] in one JVM; executors: N vs 4N "
        "concurrent executor JVMs (local[cpus-each] each) over file-slices; "
        "cpuset: local[N] taskset-bound to exactly N cores vs local[4N] "
        "bound to 4N — the cluster-size analogy done honestly (a node has "
        "a hard core budget; an unbounded local[N] does not); "
        "executors-cpuset: executors mode with each executor JVM pinned to "
        "its own disjoint core block (k isolated N-core nodes)",
    )
    ap.add_argument("--cpus-each", type=int, default=8, help="threads per executor JVM (executors mode)")
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]

    if args.mode.startswith("executors"):
        # make sure the input exists with enough part files for slicing
        subprocess.run(
            _cmd(args.cpus_each, args.rows), capture_output=True, cwd=REPO, check=True
        )

    best: dict[int, float] = {lv: float("inf") for lv in levels}
    cpu: dict[int, float] = {lv: 0.0 for lv in levels}
    split: dict[int, tuple] = {lv: (None, None) for lv in levels}
    for i in range(args.repeats):
        for lv in levels:  # interleaved so host noise hits both levels alike
            if args.mode.startswith("executors"):
                r = run_executors(
                    lv, args.cpus_each, args.rows,
                    cpuset=(args.mode == "executors-cpuset"),
                )
            else:
                r = run_once(lv, args.rows, cpuset=(args.mode == "cpuset"))
            t = r["queries"]["log_pipeline_tokens"]
            if t < best[lv]:
                best[lv] = t
                cpu[lv] = r.get("pipeline_cpu_sec", 0.0)
                split[lv] = (
                    r.get("pipeline_cpu_jvm_sec"),
                    r.get("pipeline_cpu_py_sec"),
                )
            print(
                f"trial {i} {args.mode}[{lv}]: {t:.2f}s cpu={r.get('pipeline_cpu_sec')} "
                f"{r.get('per_executor_sec', '')}",
                file=sys.stderr, flush=True,
            )

    lo, hi = min(levels), max(levels)
    thr = {lv: args.rows / best[lv] for lv in levels}
    k = hi / lo
    eff = thr[hi] / (k * thr[lo])
    # cpu-work ratio: total CPU-seconds the job consumed at hi vs lo. ~1.0
    # means the work itself does not inflate with parallelism — the signal
    # that transfers to a real cluster, where 4N nodes also bring 4x memory
    # bandwidth (one shared box does not, which caps wall-clock efficiency)
    cpu_ratio = (cpu[hi] / cpu[lo]) if cpu[lo] else None
    result = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "rows": args.rows,
        "levels": {
            str(lv): {
                "best_sec": round(best[lv], 2),
                "seq_per_sec": round(thr[lv], 1),
                "cpu_sec": round(cpu[lv], 1),
                "cpu_jvm_sec": split[lv][0],
                "cpu_py_sec": split[lv][1],
            }
            for lv in levels
        },
        "cores_ratio": k,
        "cpu_work_ratio_hi_vs_lo": round(cpu_ratio, 3) if cpu_ratio else None,
        "mode": args.mode,
        "cpus_each": args.cpus_each if args.mode.startswith("executors") else None,
        "note": (
            "min-of-interleaved-trials; separate JVM per level; taskset "
            "confines each level to exactly its core budget (JVM + python "
            "workers) — the honest N-core-node analogy"
            if args.mode == "cpuset"
            else "min-of-interleaved-trials on a shared host; separate JVM per level"
        ),
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
