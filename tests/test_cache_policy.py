"""The package's one cache policy (`session.cached`): only a scoped
`with cached(df)` block persists a frame, and every frame that escapes a
function is local-checkpointed, so no query leaves data in the session's
CacheManager and its checkpoint blocks go when its result is dropped."""

from __future__ import annotations

import ast
import gc
import pathlib
import time

import opentelemetry_collector_contrib_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent

# the registry queries that reach a checkpoint or cache site
CACHE_SITE_QUERIES = (
    "sequence_packing",
    "text_stats_suite",
    "groupbytrace_processor",
    "dedup_clusters",
    "dataset_split",
    "dedup_minhash_lsh",
)


def _cache_calls_outside_cached() -> list[str]:
    """`file:line` of every `.persist(` / `.cache(` call in the package
    that is not inside `session.cached`."""
    found = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        if path == PKG_DIR / "session.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "cached":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
                and id(node) not in allowed
            ):
                found.append(f"{path.relative_to(PKG_DIR)}:{node.lineno}")
    return found


def test_only_session_cached_persists():
    assert _cache_calls_outside_cached() == []


def _persistent_rdd_ids(spark) -> set[int]:
    # read the keys only: a py4j proxy of the RDD map (getPersistentRDDs)
    # would hold every RDD strongly until py4j's finalizer thread drops it
    keys = spark.sparkContext._jsc.sc().persistentRdds().keys().mkString(",")
    return {int(k) for k in keys.split(",") if k}


def test_cache_site_queries_leave_nothing_behind(spark, sf_dir):
    """Run every registry query that reaches a cache site in the shared
    session: the CacheManager stays empty, and the checkpoint blocks the
    results hold are freed once the results are dropped."""
    from opentelemetry_collector_contrib_spark.plans.queries import REGISTRY

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = _persistent_rdd_ids(spark)
    frames = []
    for name in CACHE_SITE_QUERIES:
        df = REGISTRY[name][0](spark, sf_dir)
        assert df.collect(), name
        frames.append(df)
    assert cache_manager.isEmpty()
    created = _persistent_rdd_ids(spark) - before
    assert created, "the queries checkpointed nothing; this test measures nothing"

    del frames, df
    deadline = time.monotonic() + 10
    while True:
        gc.collect()
        spark._jvm.System.gc()
        left = created & _persistent_rdd_ids(spark)
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert not left, f"checkpoint RDDs still held after the results were dropped: {sorted(left)}"
