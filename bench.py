"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
in a session from `session.build_session` (local[$SPARK_GRAFT_CPUS], else
every core) and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship is the north-rule tokenized-sequence pipeline
(parse -> enrich -> route -> aggregate over (doc_id, tokens, n_tok, source));
its input is generated deterministically and distributed (datagen.py — pure
column expressions, no driver loops) at a row count proportional to sf, so
throughput here extrapolates to the 10^12-row target.

Usage:
    python bench.py                    # driver mode: one JSON line
    python bench.py --cpus 2           # scaling run at a different parallelism
    python bench.py --seq-rows 2000000 # override pipeline input size
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from opentelemetry_collector_contrib_spark.session import build_session  # noqa: E402

# Registry queries benchmarked alongside the flagship pipeline: one per
# operator family that dominates cost at scale (shuffle-heavy aggregation,
# window functions, regex/JSON parse, sessionization, dedup + ANN).
HEADLINE = [
    "pipeline_events",
    "routing_suite",
    "logdedup_processor",
    "metrics_temporal",
    "recombine_sessions",
    "spanmetrics_connector",
    "transform_ottl",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_stats_suite",
    "sequence_packing",
    "text_decontamination",
]


def _force(df) -> None:
    """Materialize a DataFrame fully (all partitions, all columns)."""
    df.write.format("noop").mode("overwrite").save()


def _cpu_seconds() -> tuple[float, float]:
    """(jvm_cpu, python_worker_cpu) seconds consumed by this driver's
    process tree, from /proc (no psutil in this container): the child java
    JVM, plus every live descendant of it (pyspark.daemon + the reused
    Arrow UDF workers it forks). Splitting JVM vs Python shows WHERE
    cpu-work inflates with parallelism (GC/scan vs the parse workers).
    Only this driver's tree is counted — other tenants' processes coming
    and going mid-window would corrupt the delta. Worker processes are
    long-lived (spark.python.worker.reuse default), so sampling live
    /proc entries right after the job captures their full burn."""
    hz = os.sysconf("SC_CLK_TCK")
    me = str(os.getpid())
    procs: dict[str, tuple[str, str, float]] = {}  # pid -> (ppid, comm, cpu)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                comm_part, rest = f.read().rsplit(")", 1)
            parts = rest.split()
        except OSError:
            continue
        comm = comm_part.split("(", 1)[1]
        procs[pid] = (parts[1], comm, (int(parts[11]) + int(parts[12])) / hz)
    kids: dict[str, list[str]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    jvm = py = 0.0
    stack = [(c, False) for c in kids.get(me, [])]
    while stack:
        pid, under_jvm = stack.pop()
        ppid, comm, cpu = procs[pid]
        is_java = comm.startswith("java")
        if is_java or under_jvm:
            if is_java:
                jvm += cpu
            else:
                py += cpu
        stack.extend((c, under_jvm or is_java) for c in kids.get(pid, []))
    return jvm, py


def _input_tables(spark: SparkSession, n_rows: int) -> str:
    """Materialize the tokenized-sequence + raw-log input tables to parquet
    once (reused across runs and processes). The north-rule input is a
    TABLE scan, not on-the-fly generation — benching off disk keeps the
    timed plan small (generation DAGs cost ~10s of driver-serial codegen)
    and gives the scan real pushdown/pruning behavior."""
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_bench_input_{n_rows}")
    marker = os.path.join(base, "fused", "_SUCCESS")
    if not os.path.exists(marker):
        from opentelemetry_collector_contrib_spark import datagen

        # 64 files so executor-mode slicing (--files-slice) can split the
        # scan evenly across up to 64 concurrent executor JVMs
        datagen.input_table(spark, n_rows).repartition(64).write.mode("overwrite").parquet(
            f"{base}/fused"
        )
    return base


def bench_log_pipeline(
    spark: SparkSession,
    n_rows: int,
    repeats: int = 2,
    sink: str = "parquet",
    files_slice: str = "",
) -> tuple[float, float]:
    """North-rule pipeline over n_rows tokenized sequences: parquet scan ->
    vectorized parse of 4 payload shapes -> broadcast enrich -> first-match
    route -> per-sink fan-out write + counts. Token arrays are carried
    end-to-end (the per-row invariant).

    Runs a small warmup first (JIT + codegen), then takes the min of
    `repeats` timed runs — this sandbox shares its host with other tenants,
    so the min is the meaningful throughput figure.

    sink="parquet" is true end-to-end (routed fan-out lands on disk);
    sink="noop" materializes every routed row but skips the disk flush —
    used by the scaling harness because one box's disk bandwidth is a
    shared constant, while on a real N-executor cluster the sink write
    spreads across N disks/object-store streams."""
    from opentelemetry_collector_contrib_spark import datagen
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        DEFAULT_ROUTES,
        log_pipeline_fused,
    )
    from opentelemetry_collector_contrib_spark.sinks.fanout import write_fanout_with_counts

    meta = datagen.source_meta(spark)
    base = _input_tables(spark, n_rows)
    out_dir = f"{base}_out"

    warm = log_pipeline_fused(datagen.input_table(spark, 20_000), meta)
    _force(warm["routed"])

    # files_slice "i:k" = this process acts as executor i of k, reading its
    # round-robin share of the input files (how a real cluster splits the
    # scan across executor JVMs)
    if files_slice:
        i, k = (int(x) for x in files_slice.split(":"))
        files = sorted(
            os.path.join(f"{base}/fused", f)
            for f in os.listdir(f"{base}/fused")
            if f.endswith(".parquet")
        )
        paths = files[i::k]
        out_dir = f"{out_dir}_slice{i}"  # each executor owns its sink dir
    else:
        paths = [f"{base}/fused"]

    best, best_cpu = float("inf"), 0.0
    for _ in range(max(repeats, 1)):
        fused = spark.read.parquet(*paths)
        out = log_pipeline_fused(fused, meta)
        # ONE action: fan-out write (or noop materialization) with per-sink
        # counts collected by the same job via Observation — no second scan
        jvm0, py0 = _cpu_seconds()
        t0 = time.perf_counter()
        counts = write_fanout_with_counts(out["routed"], out_dir, DEFAULT_ROUTES, fmt=sink)
        wall = time.perf_counter() - t0
        if wall < best:
            jvm1, py1 = _cpu_seconds()
            best, best_cpu = wall, (jvm1 - jvm0, py1 - py0)
        if not files_slice:
            assert sum(counts.values()) == n_rows
    return best, best_cpu


def bench_filelog_ingest(spark: SparkSession, n_lines: int) -> tuple[float, float]:
    """The reference's sustained-throughput scenario shape
    (testbed large-file tests: filelog tail -> split -> forward, ~100B
    lines at 200-330k lines/s): read a text file, split each line into
    (ts, level, msg) columns, count per level. Measures raw ingest+split
    throughput for the apples-to-apples comparison in BASELINE.md."""
    from pyspark.sql import functions as F

    path = os.path.join(tempfile.gettempdir(), f"spark_graft_bench_lines_{n_lines}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            spark.range(n_lines)
            .select(
                F.format_string(
                    "1760104536.%06d INFO event number %d from source svc-%d",
                    F.col("id") % 1000000, F.col("id"), F.col("id") % 10,
                ).alias("value")
            )
            .write.mode("overwrite").text(path)
        )
    df = spark.read.text(path)
    parts = F.split(F.col("value"), " ")
    parsed = df.select(
        F.element_at(parts, 1).alias("ts"),
        F.element_at(parts, 2).alias("level"),
        F.element_at(parts, 5).cast("long").alias("n"),
    )
    job = parsed.groupBy("level").agg(F.count(F.lit(1)).alias("cnt"), F.sum("n").alias("s"))
    job.collect()  # warm
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        job.collect()
        best = min(best, time.perf_counter() - t0)
    return best, n_lines / best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--cpus", type=int, default=0,
        help="local task slots (0 = build_session's default: $SPARK_GRAFT_CPUS, else every core)",
    )
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--seq-rows", type=int, default=0, help="pipeline input rows (0 = 10M*sf)")
    ap.add_argument("--skip-registry", action="store_true", help="only the tokens pipeline")
    ap.add_argument("--repeats", type=int, default=3, help="timed pipeline runs (min reported)")
    ap.add_argument("--sink", default="parquet", choices=["parquet", "noop"])
    ap.add_argument("--files-slice", default="", help='"i:k": act as executor i of k')
    args = ap.parse_args()

    try:
        # handles both the driver's "sf0.1" dirs and the repo-local
        # "testdata_sf1" scale-up (tools/make_sf1.py)
        base = os.path.basename(args.sf_dir.rstrip("/"))
        sf = float(base[base.rindex("sf") + 2:])
    except ValueError:
        sf = 0.1
    n_rows = args.seq_rows or max(int(10_000_000 * sf), 10_000)

    spark = build_session(
        app_name="otelcontrib-spark-bench",
        master=f"local[{args.cpus}]" if args.cpus else None,
        shuffle_partitions=args.cpus,
    )
    cpus = spark.sparkContext.defaultParallelism
    try:
        queries: dict[str, float] = {}

        t, cpu = bench_log_pipeline(
            spark, n_rows, repeats=args.repeats, sink=args.sink, files_slice=args.files_slice
        )
        queries["log_pipeline_tokens"] = round(t, 3)
        seq_per_sec = n_rows / t

        t_ingest, lines_per_sec = bench_filelog_ingest(spark, n_rows)
        queries["filelog_ingest_lines"] = round(t_ingest, 3)

        if not args.skip_registry:
            from opentelemetry_collector_contrib_spark.plans.queries import REGISTRY

            for name in HEADLINE:
                fn, _sql = REGISTRY[name]
                # min of two timed runs: the first also warms JIT/codegen,
                # and the min discards co-tenant contention spikes (this
                # host is shared — see BASELINE.md "sandbox ceiling")
                t = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    _force(fn(spark, args.sf_dir))
                    t = min(t, time.perf_counter() - t0)
                queries[name] = round(t, 3)

            # MinHash production path (xxhash64 signatures + slim candidate
            # join) vs the md5 oracle path: INTERLEAVED trials (md5, xx,
            # md5, xx, ...) so a co-tenant contention spike hits both paths
            # alike — min-of-trials per path is then comparable within one
            # run, and a real xxhash regression can't hide behind "host
            # noise" (round-3's dedup_minhash_xxhash 0.67->1.30s question)
            from opentelemetry_collector_contrib_spark.dataprep import dedup as _dedup

            docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
            best_md5, best_xx = float("inf"), float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                _force(_dedup.minhash_lsh_pairs(docs, hash_impl="md5"))
                best_md5 = min(best_md5, time.perf_counter() - t0)
                t0 = time.perf_counter()
                _force(_dedup.minhash_lsh_pairs(docs, hash_impl="xxhash"))
                best_xx = min(best_xx, time.perf_counter() - t0)
            queries["dedup_minhash_xxhash"] = round(best_xx, 3)
            queries["dedup_minhash_md5_interleaved"] = round(best_md5, 3)

        total = round(sum(queries.values()), 3)
        print(
            json.dumps(
                {
                    "metric": "headline_wall_seconds",
                    "value": total,
                    "unit": "sec",
                    "queries": queries,
                    "sf": sf,
                    "cpus": cpus,
                    "pipeline_rows": n_rows,
                    "pipeline_seq_per_sec": round(seq_per_sec, 1),
                    "pipeline_cpu_sec": round(sum(cpu), 2),
                    "pipeline_cpu_jvm_sec": round(cpu[0], 2),
                    "pipeline_cpu_py_sec": round(cpu[1], 2),
                    "ingest_lines_per_sec": round(lines_per_sec, 1),
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
