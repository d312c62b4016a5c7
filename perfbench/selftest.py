"""The benchmark's own self-test, at a tiny size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, prints every metric BENCHMARK.json
   names, with its unit, and reports correct outputs.
2. Each output checker rejects a deliberately corrupted result: one row
   dropped, or one value changed.
3. Run without the program beside it, the benchmark exits non-zero and
   prints no result.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import subprocess
import sys

import run

ROWS = 2_000
DOCS = 200
SEED = 7


def _bench_run(workload: str, trace: int, cwd: str = run.ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--rows", str(ROWS), "--docs", str(DOCS)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_metric_lists() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import workloads

    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert declared[0] == run.END_TO_END, "BENCHMARK.json end_to_end != run.END_TO_END"
    assert declared[1] == workloads.per_layer_metrics(), "BENCHMARK.json per_layer != workloads.per_layer_metrics()"
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for w in spec["workloads"]:
        for trace in (0, 1):
            proc = _bench_run(w["name"], trace)
            assert proc.returncode == 0, proc.stderr[-3000:]
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] is True and result["failed"] == 0, (w["name"], trace, proc.stderr[-3000:])
            assert result["attempted"] >= 1
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == declared[trace], (w["name"], trace, set(got) ^ set(declared[trace]))
            for k, v in result["metrics"].items():
                assert isinstance(v["value"], float) and math.isfinite(v["value"]), (k, v)
            print(f"selftest: {w['name']} trace={trace}: {len(got)} metrics with units, outputs correct")


def _drop_crc(path: str) -> None:
    """Remove the checksum sidecar Hadoop's local filesystem keeps for a data
    file, so the rewritten file is read rather than refused."""
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _rewrite_parquet(path: str, edit) -> None:
    import pyarrow.parquet as pq

    f = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    pq.write_table(edit(pq.read_table(f)), f)
    _drop_crc(f)


def _drop_one_row(table):
    return table.slice(1)


def _change_one_token(table):
    import pyarrow as pa

    tokens = table.column("tokens").to_pylist()
    tokens[0] = [tokens[0][0] + 1] + tokens[0][1:]
    i = table.schema.get_field_index("tokens")
    return table.set_column(i, "tokens", pa.array(tokens, table.schema.field("tokens").type))


def check_checkers() -> None:
    """Each checker accepts the real output and rejects corrupted copies."""
    import inputs
    import workloads
    from opentelemetry_collector_contrib_spark.session import build_session

    import __spark_entry__

    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    oracle = run._check_oracle()
    docs = inputs.documents(os.path.join(run.WORK, "inputs"), SEED, DOCS, __spark_entry__.oracle_sql(), oracle)
    spark = build_session(app_name="perfbench-selftest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        inp = inputs.fused_table(spark, os.path.join(work, "fused-input"), SEED, ROWS)
        fused = workloads.FusedTokens(spark, inp, os.path.join(work, "fused"))
        counts = fused.run_pass()
        assert fused.check(counts) == [], fused.check(counts)
        route_dir = os.path.join(fused.out, "route=acme")
        backup = os.path.join(work, "route-acme-backup")
        for name, edit, expect in [
            ("one row dropped", _drop_one_row, "route acme holds"),
            ("one token changed", _change_one_token, "checksum"),
        ]:
            shutil.copytree(route_dir, backup)
            _rewrite_parquet(route_dir, edit)
            errs = fused.check(counts)
            assert any(expect in e for e in errs), f"fused checker missed {name}: {errs}"
            print(f"selftest: fused checker rejects {name}: {errs[0]}")
            shutil.rmtree(route_dir)
            os.rename(backup, route_dir)

        inp = inputs.log_lines(spark, os.path.join(work, "lines-input"), SEED, ROWS)
        coll = workloads.CollectorYaml(spark, inp, os.path.join(work, "collector"))
        counts = coll.run_pass()
        assert coll.check(counts) == [], coll.check(counts)
        jdir = os.path.join(coll.out, "logs", "__exporter=file")
        jfile = max(glob.glob(os.path.join(jdir, "*.json")), key=os.path.getsize)
        with open(jfile) as f:
            lines = f.readlines()
        for name, corrupted in [
            ("one row dropped", lines[1:]),
            ("one value changed", [lines[0].replace('"body":"', '"body":"X', 1)] + lines[1:]),
        ]:
            with open(jfile, "w") as f:
                f.writelines(corrupted)
            _drop_crc(jfile)
            errs = coll.check(counts)
            assert errs, f"collector checker accepted {name}"
            print(f"selftest: collector checker rejects {name}: {errs[0]}")
        with open(jfile, "w") as f:
            f.writelines(lines)

        suite = "text_decontamination"
        rows = __spark_entry__.queries()[suite](spark, docs["dir"]).collect()
        ok = workloads.check_dataprep(suite, rows, docs["oracle"][suite], oracle)
        assert ok == [], ok
        first = rows[0].asDict()
        changed = type(rows[0])(**{**first, "n_hits": first["n_hits"] + 1})
        for name, corrupted in [("one row dropped", rows[1:]), ("one value changed", [changed] + rows[1:])]:
            errs = workloads.check_dataprep(suite, corrupted, docs["oracle"][suite], oracle)
            assert errs, f"dataprep checker accepted {name}"
            print(f"selftest: dataprep checker rejects {name}: {errs[0]}")
    finally:
        inputs.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def check_refuses_without_program() -> None:
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = _bench_run("fused_tokens", 0, cwd=bare)
        assert proc.returncode != 0, "benchmark succeeded without the program"
        assert '"metrics"' not in proc.stdout, "benchmark printed a result without the program"
        print(f"selftest: without the program it exits {proc.returncode} and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    run._environment()
    check_refuses_without_program()
    check_metric_lists()
    check_checkers()
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
