"""One SparkSession factory: `session.build_session` is the only place a
session is configured, and `bench.py` measures the session it builds."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

# env names of the benchmark's former second factory and its tuning
DELETED_ENV = {
    "SPARK_GRAFT_TASKS",
    "SPARK_GRAFT_MAX_PART_BYTES",
    "SPARK_GRAFT_ARROW_BATCH",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_DRIVER_JAVA_OPTS",
    "SPARK_GRAFT_SPLIT_BYTES",
    "SPARK_DRIVER_MAX_RESULT_SIZE",
}

BENCH_KEYS = {
    "metric", "value", "unit", "queries", "sf", "cpus", "pipeline_rows",
    "pipeline_seq_per_sec", "pipeline_cpu_sec", "pipeline_cpu_jvm_sec",
    "pipeline_cpu_py_sec", "ingest_lines_per_sec",
}


def _second_factory_sites() -> list[str]:
    """`file:line` of every `SparkSession.builder` outside `session.py` and
    of every string naming a deleted env variable, in the repo's `.py`
    files."""
    found = []
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if any(part.startswith(".") for part in rel.parts) or path == pathlib.Path(__file__).resolve():
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "builder"
                and getattr(node.value, "id", getattr(node.value, "attr", None)) == "SparkSession"
                and rel != pathlib.Path("opentelemetry_collector_contrib_spark/session.py")
            ) or (isinstance(node, ast.Constant) and node.value in DELETED_ENV):
                found.append(f"{rel}:{node.lineno}")
    return found


def test_build_session_is_the_only_factory():
    assert _second_factory_sites() == []


def test_bench_headline_names_resolve():
    from opentelemetry_collector_contrib_spark.plans.queries import REGISTRY

    sys.path.insert(0, str(REPO))
    try:
        import bench
    finally:
        sys.path.remove(str(REPO))
    assert set(bench.HEADLINE) <= REGISTRY.keys()


def test_bench_smoke_runs_on_build_session(tmp_path):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "TMPDIR": str(tmp_path)}
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = [
        sys.executable, str(REPO / "bench.py"), "--skip-registry",
        "--seq-rows", "20000", "--repeats", "1", "--sink", "noop",
    ]
    res = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-4000:]
    line = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(line) == BENCH_KEYS
    assert line["cpus"] == 2
    assert line["pipeline_rows"] == 20000
    assert (tmp_path / "spark_graft_bench_input_20000" / "fused" / "_SUCCESS").exists()
