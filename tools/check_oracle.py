"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB, compare row count, sorted column
names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [name ...]
Env:   ORACLE_SF_DIR       parquet dir (default /root/testdata/sf0.01)
       ORACLE_CORES        spark local[N] + shuffle partitions (default:
                           the cores this process may run on)
       ORACLE_DUCK_MEM     DuckDB max_memory (default: 40% of physical RAM,
                           next to the Spark driver heap; sized for ONE
                           process, so set it when running several at once)
       ORACLE_DUCK_THREADS DuckDB threads (default: DuckDB's own)
       ORACLE_EXCLUDE      comma-separated query names to skip
       ORACLE_JSON         write a CORRECTNESS-style JSON report here

After the last query the report records `cache_manager_empty`: whether the
session's CacheManager is empty, i.e. no query left a persisted frame
behind. The run exits non-zero when it is not.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill float representation noise
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def hash_lines(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def value_hash(rows: list[dict]) -> str:
    cols = sorted(rows[0].keys()) if rows else []
    lines = sorted("|".join(norm_cell(r[c]) for c in cols) for r in rows)
    return hash_lines(lines)


def spark_lines(sdf) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted normalized lines) of a Spark result.
    Builds lines positionally from Row tuples and drops the Row list before
    sorting — at sf10 a 10M-row suite as per-row dicts is ~15 GB, as lines
    it's ~2 GB, which is what makes a 4-shard parallel sweep fit in RAM."""
    cols = sdf.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sdf.collect()
    lines = ["|".join(norm_cell(r[i]) for i in order) for r in rows]
    del rows
    lines.sort()
    return sorted(cols), lines


def duck_lines(con, sql: str) -> tuple[list[str], list[str]]:
    """Same, streaming the DuckDB cursor in 100k-row batches so the raw
    tuple list never materializes alongside the line list."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines: list[str] = []
    while True:
        batch = cur.fetchmany(100_000)
        if not batch:
            break
        lines.extend("|".join(norm_cell(r[i]) for i in order) for r in batch)
    lines.sort()
    return sorted(cols), lines


def main():
    from opentelemetry_collector_contrib_spark.session import build_session

    import __spark_entry__ as entrymod

    only = set(sys.argv[1:])
    exclude = set(filter(None, os.environ.get("ORACLE_EXCLUDE", "").split(",")))
    cores = int(os.environ.get("ORACLE_CORES") or len(os.sched_getaffinity(0)))
    spark = build_session(app_name="oracle-check", master=f"local[{cores}]", shuffle_partitions=cores)
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    duck_mem = os.environ.get("ORACLE_DUCK_MEM") or f"{int(phys_mb * 0.4)}MB"

    def fresh_con(n_threads=None):
        # Bound DuckDB's memory and give it a spill dir: its default limit
        # is 80% of SYSTEM RAM *per process*, so a sharded sweep (4-5
        # concurrent oracle processes next to 14g Spark JVMs) overcommits
        # and the heavy sf10 mirrors die with bad_alloc instead of
        # spilling. preserve_insertion_order=false: the compare is
        # order-insensitive (sorted lines), and ordered parallel
        # materialization is one of DuckDB 1.0's biggest hidden memory
        # consumers on the 10M-row mirrors.
        c = duckdb.connect()
        if n_threads:
            c.execute(f"SET threads={int(n_threads)}")
        c.execute(f"SET max_memory='{duck_mem}'")
        c.execute("SET preserve_insertion_order=false")
        spill = f"/tmp/duckspill_{os.getpid()}"
        os.makedirs(spill, exist_ok=True)
        c.execute(f"SET temp_directory='{spill}'")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        return c

    duck_threads = int(os.environ.get("ORACLE_DUCK_THREADS") or 0) or None
    # OOM-retry ladder: DuckDB 1.0's per-thread allocator state makes the
    # big mirrors fail sporadically with bad_alloc at high thread counts
    # even when tracked memory is far under the limit; the same query
    # passes reliably with fewer threads (smaller concurrent working set,
    # less untracked vector memory). Retry each OOM'd oracle on a FRESH
    # connection with a reduced thread count before reporting failure.
    ladder = [t for t in (duck_threads, 4, 1) if t is None or t > 0]
    seen = set()
    ladder = [t for t in ladder if not (t in seen or seen.add(t))]
    con = fresh_con(duck_threads)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report = {"sf_dir": SF_DIR, "cores": cores, "queries": {}}
    out = os.environ.get("ORACLE_JSON")

    def flush():
        # incremental write so an interrupted sweep keeps its partial results
        if out:
            n_ok = sum(1 for v in report["queries"].values() if v["status"] == "ok")
            report["summary"] = {"ok": n_ok, "total": len(report["queries"]), "failures": failures}
            with open(out, "w") as f:
                json.dump(report, f, indent=1)

    for name, fn in qs.items():
        if (only and name not in only) or name in exclude:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR)
            scols, slines = spark_lines(sdf)
        except Exception as e:
            import traceback

            tb = traceback.format_exc()
            # str() of a chained/py4j error can be empty — keep the
            # exception TYPE and the last traceback lines so a failed
            # sweep row is diagnosable from the report alone
            msg = f"{type(e).__name__}: {str(e)[:200]}"
            print(f"FAIL {name}: spark error {msg}\n{tb[-1500:]}")
            failures.append(name)
            report["queries"][name] = {"status": "spark_error", "err": msg[:300], "tb_tail": tb[-600:]}
            flush()
            continue
        spark_sec = round(time.monotonic() - t0, 2)
        if name not in oracles:
            print(f"SKIP {name}: rows-only check -> {len(slines)} rows ({spark_sec}s)", flush=True)
            report["queries"][name] = {"status": "rows_only", "rows": len(slines), "spark_sec": spark_sec}
            flush()
            continue
        t1 = time.monotonic()
        err = None
        dcols = dlines = None
        for rung, n_thr in enumerate(ladder):
            try:
                if rung > 0:
                    print(
                        f"RETRY {name}: duckdb OOM, fresh connection with "
                        f"threads={n_thr}",
                        flush=True,
                    )
                    con.close()
                    con = fresh_con(n_thr)
                rel = con.sql(oracles[name])
                # the driver fetches via pandas where HUGEINT -> float64
                # ("128" vs "128.0") — reject un-cast SUM-of-integer columns
                # locally instead of finding out from CORRECTNESS_r{N}
                huge = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
                if huge:
                    raise ValueError(f"oracle emits HUGEINT columns {huge}; add CAST(... AS BIGINT)")
                dcols, dlines = duck_lines(con, oracles[name])
                err = None
                break
            except Exception as e:
                err = e
                if "Out of Memory" not in str(e):
                    break
        if err is not None:
            print(f"FAIL {name}: duckdb error {str(err)[:200]}")
            failures.append(name)
            report["queries"][name] = {"status": "duckdb_error", "err": str(err)[:300]}
            flush()
            continue
        duck_sec = round(time.monotonic() - t1, 2)
        ok_rows = len(slines) == len(dlines)
        ok_cols = scols == dcols
        ok_hash = ok_rows and ok_cols and hash_lines(slines) == hash_lines(dlines)
        report["queries"][name] = {
            "status": "ok" if ok_hash else "mismatch",
            "rows": len(slines),
            "rows_match": ok_rows,
            "schema_match": ok_cols,
            "hash_match": ok_hash,
            "spark_sec": spark_sec,
            "duckdb_sec": duck_sec,
        }
        flush()
        if ok_hash:
            print(f"OK   {name}: {len(slines)} rows (spark {spark_sec}s, duck {duck_sec}s)", flush=True)
        else:
            failures.append(name)
            print(f"FAIL {name}: rows {len(slines)}/{len(dlines)} cols_match={ok_cols}")
            if not ok_cols:
                print(f"     spark cols: {scols}\n     duck  cols: {dcols}")
            elif ok_rows:
                s, d = set(slines), set(dlines)
                for x in list(s - d)[:3]:
                    print(f"     spark-only: {x[:160]}")
                for x in list(d - s)[:3]:
                    print(f"     duck-only:  {x[:160]}")
        del slines, dlines
    cache_empty = bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())
    report["cache_manager_empty"] = cache_empty
    spark.stop()
    if out:
        flush()
        print(f"wrote {out}")
    print(f"cache_manager_empty: {str(cache_empty).lower()}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures or not cache_empty else 0)


if __name__ == "__main__":
    main()
