"""Benchmark inputs, generated from the workload seed.

A log workload's input is generated in the benchmark's own session, right
after it starts and before the warm-up pass, on every run: fused_tokens reads
`datagen.input_table(seed)` as parquet, collector_yaml reads the bodies of
`datagen.raw_logs(seed)` (the same bodies) as filelog text. Every run does
the same work before its warm-up pass, so set-up time does not depend on what
an earlier run left.

The dataprep document corpus is generated here with NumPy in the shape of
the repository's `documents` test table, and its DuckDB oracle results are
cached next to it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess

# checksum modulus: each row's xxhash64 is reduced below 2^31, so a sum over
# fewer than 2^32 rows cannot overflow a signed 64-bit long
CHECK_MOD = 2147483647

# an apache common-log line with HTTP status 404, matched independently of
# the grok engine under test
_APACHE_404 = re.compile(r'^\S+ \S+ \S+ \[[^\]]+\] "[^"]*" 404 (?:\d+|-)')


def data_files(path: str) -> list[str]:
    """Data files under a Spark output directory (no checksums or markers)."""
    return [
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        for f in names
        if not f.startswith((".", "_"))
    ]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited: the
    gateway JVM exits when its stdin closes, and takes its Python workers
    with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _sorted_files(df):
    # hash-partitioned and sorted, so a seed always yields the same files
    return df.repartition(4, "doc_id").sortWithinPartitions("doc_id")


def fused_table(spark, out: str, seed: int, rows: int) -> dict:
    """`datagen.input_table(seed)` as parquet under `out` (replaced). Returns
    its record: path, rows, size and (doc_id, tokens) checksum."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark import datagen

    shutil.rmtree(out, ignore_errors=True)
    # the row count and token checksum come from the job that writes the table
    obs = Observation("input")
    (
        _sorted_files(datagen.input_table(spark, rows, seed))
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(F.xxhash64("doc_id", "tokens"), F.lit(CHECK_MOD))).alias("token_sum"),
        )
        .write.parquet(out)
    )
    agg = obs.get
    return {"path": out, "rows": int(agg["rows"]), "bytes": _dir_bytes(out), "token_sum": int(agg["token_sum"])}


def log_lines(spark, out: str, seed: int, rows: int) -> dict:
    """The bodies of `datagen.raw_logs(seed)`, which are the fused table's
    bodies, as filelog text under `out` (replaced). Returns its record: path,
    lines, size and the 404 lines, counted with the benchmark's own regex."""
    from opentelemetry_collector_contrib_spark import datagen

    shutil.rmtree(out, ignore_errors=True)
    _sorted_files(datagen.raw_logs(spark, rows, seed)).select("body").write.text(out)
    n404 = line_count = 0
    for name in sorted(os.listdir(out)):
        if name.endswith(".txt"):
            with open(os.path.join(out, name)) as f:
                for line in f:
                    line_count += 1
                    n404 += bool(_APACHE_404.match(line))
    return {"path": out, "rows": line_count, "bytes": _dir_bytes(out), "lines_404": n404}


_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DATAPREP_SUITES = ["text_stats_suite", "sequence_packing", "text_decontamination"]


def documents(cache: str, seed: int, docs: int, oracle_sql: dict[str, str], check_oracle) -> dict:
    """`documents.parquet` (doc_id, text, lang, source, n_chars) for
    (seed, docs) plus each dataprep suite's DuckDB oracle (row count and
    value hash, using check_oracle's normaliser). 10-100 words per doc over
    a 30-word vocabulary; about 5% of docs repeat an earlier doc plus
    " dup", which gives the dedup and decontamination joins hits."""
    final = os.path.join(cache, f"docs-s{seed}-n{docs}")
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        import duckdb
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        texts: list[str] = []
        for i in range(docs):
            if i >= 20 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
                texts.append(" ".join(_WORDS[w] for w in words))
        langs = rng.choice(_LANGS, size=docs, p=_LANG_P)
        table = pa.table({
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": texts,
            "lang": [str(x) for x in langs],
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "documents.parquet"))
        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            con.execute(f"SET temp_directory='{os.path.join(tmp, 'duck')}'")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{os.path.join(tmp, 'documents.parquet')}')"
            )
            oracle = {}
            for name in DATAPREP_SUITES:
                cols, lines = check_oracle.duck_lines(con, oracle_sql[name])
                oracle[name] = {"rows": len(lines), "cols": cols, "hash": check_oracle.hash_lines(lines)}
        finally:
            con.close()
        shutil.rmtree(os.path.join(tmp, "duck"), ignore_errors=True)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"seed": seed, "rows": docs, "oracle": oracle}, f, indent=1)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = final
    return meta

