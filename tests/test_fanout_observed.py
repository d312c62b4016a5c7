"""Single-pass fan-out + Observation-based per-sink counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.connectors import routing_connector
from opentelemetry_collector_contrib_spark.sinks.fanout import write_fanout_with_counts


def test_write_fanout_with_counts_single_pass(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, "a").when(F.col("id") % 3 == 0, "b").alias("tag"),
    )
    routed = routing_connector(
        df, [("tens", F.col("tag") == "a"), ("threes", F.col("tag") == "b")]
    )
    counts = write_fanout_with_counts(
        routed, str(tmp_path / "sinks"), ["tens", "threes"]
    )
    assert counts == {"tens": 10, "threes": 30, "default": 60}
    back = spark.read.parquet(str(tmp_path / "sinks"))
    disk = {r["route"]: r["n"] for r in back.groupBy("route").agg(F.count("*").alias("n")).collect()}
    assert disk == counts


def test_clickhouse_export_jsoneachrow(spark, tmp_path):
    import json

    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.sinks.fanout import clickhouse_export
    from opentelemetry_collector_contrib_spark.sinks.formatter import format_log_rows

    df = spark.createDataFrame(
        [("b1", 9, "INFO", 1700000000000000, {"k": "v"}, {"r": "x"}, "t" * 32, "s" * 16, "src")],
        "body string, severity_number int, severity_text string, ingest_ts long, "
        "attributes map<string,string>, resource_attributes map<string,string>, "
        "trace_id string, span_id string, source string",
    ).withColumn("time_unix_nano", F.col("ingest_ts") * 1000)
    rows = format_log_rows(df)
    out = str(tmp_path / "ch")
    clickhouse_export(rows, out)
    import glob as _glob

    lines = []
    for f in _glob.glob(f"{out}/*.json"):
        with open(f) as fh:
            lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(lines) == 1
    rec = lines[0]
    # JSONEachRow object with the CH log-table column names
    assert rec["Body"] == "b1" and rec["SeverityNumber"] == 9
    assert "TimestampTime" in rec or "Timestamp" in rec
    # idempotent re-run: same row count
    clickhouse_export(rows, out)
    lines2 = sum(1 for f in _glob.glob(f"{out}/*.json") for _ in open(f))
    assert lines2 == 1


def test_tap_processor_passthrough_and_bounded_sample(spark, tmp_path):
    import json

    from opentelemetry_collector_contrib_spark.sinks.fanout import tap_processor

    df = spark.createDataFrame(
        [(i, f"msg-{i}") for i in range(50)], "id long, body string"
    )
    out = tap_processor(df, str(tmp_path / "tap"), limit=5, id_cols=["id"])
    # pass-through: the returned frame is the input, untouched
    assert out.count() == 50 and out.columns == ["id", "body"]
    lines = [
        json.loads(line)
        for f in (tmp_path / "tap").glob("part-*")
        for line in f.read_text().splitlines()
    ]
    assert len(lines) == 5
    assert all(set(x) == {"id", "body"} for x in lines)
    # deterministic: rerun taps the identical sample
    tap_processor(df.repartition(7), str(tmp_path / "tap2"), limit=5, id_cols=["id"])
    lines2 = [
        json.loads(line)
        for f in (tmp_path / "tap2").glob("part-*")
        for line in f.read_text().splitlines()
    ]
    assert {x["id"] for x in lines} == {x["id"] for x in lines2}


def test_write_fanout_null_routes_counted_as_unlisted(spark, tmp_path):
    """NULL routes (a routing expression that itself yields NULL) must be
    counted in the '__unlisted' catch-all — ~NULL.isin(names) is NULL,
    which when() treats as false, the original silent-undercount hole.
    A `noop` sink counts the same and writes nothing."""
    df = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") < 4, "a")
        .when(F.col("id") < 7, F.lit(None).cast("string"))
        .otherwise("rogue")
        .alias("route"),
    )
    for fmt in ("parquet", "noop"):
        out = tmp_path / fmt
        counts = write_fanout_with_counts(df, str(out), ["a"], fmt=fmt)
        assert counts == {"a": 4, "default": 0, "__unlisted": 6}, fmt  # 3 NULL + 3 rogue
        assert out.exists() == (fmt != "noop")


SINK_SCHEMA = "id long, route string, tokens array<int>, attrs map<string,string>, body string"


def _sink_rows() -> list[tuple]:
    rows = [
        (1, "a", [], {"k": None}, ""),
        (2, "b", None, None, None),
        (3, None, [7, None, 9], {"k": "v", "n": None}, "null route"),
        (4, "a", [None], {}, "only a NULL element"),
    ]
    for i in range(5, 400):
        toks = [(i * 7919 + j * 104729) % 50000 for j in range(i % 23)]
        rows.append((i, ("a", "b", None)[i % 3], toks, {"i": str(i)}, f"body {i}"))
    return rows


def _route_counts(rows: list[tuple]) -> dict:
    n = {r: sum(1 for row in rows if row[1] == r) for r in ("a", "b")}
    return {**n, "default": 0, "__unlisted": sum(1 for row in rows if row[1] is None)}


def _token_sum(rows: list[tuple]) -> int:
    return sum(t for r in rows for t in (r[2] or []) if t is not None)


def _digests(df) -> dict:
    """Per-column digest, each value keyed by its row id (maps hash as
    their entry arrays: Spark refuses to hash a map)."""
    def val(c):
        dtype = dict(df.dtypes)[c]
        return F.map_entries(c) if dtype.startswith("map") else F.col(c)

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.pmod(F.xxhash64("id", val(c)), F.lit(1 << 31))).alias(c) for c in df.columns],
    ).first().asDict()


def _parquet_files(path) -> list:
    files = sorted(path.rglob("*.parquet"))
    assert files
    return files


def _column_chunks(files):
    import pyarrow.parquet as pq

    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                yield meta.row_group(g).column(c)


def test_parquet_sink_round_trip_and_encoding(spark, tmp_path):
    """The parquet sink's encoding (v2 pages, no dictionary, zstd) reads
    back identically in Spark and with the same counts and token sums in
    pyarrow and duckdb, the readers downstream consumers use."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    rows = _sink_rows()
    df = spark.createDataFrame(rows, SINK_SCHEMA)
    out = tmp_path / "sinks"
    counts = write_fanout_with_counts(df, str(out), ["a", "b"])
    assert counts == _route_counts(rows)

    back = spark.read.parquet(str(out)).select(*df.columns)
    assert _digests(back) == _digests(df)

    table = ds.dataset(str(out), format="parquet", partitioning="hive").to_table()
    assert table.num_rows == len(rows)
    assert pc.sum(pc.list_flatten(table["tokens"])).as_py() == _token_sum(rows)
    n, s = duckdb.sql(
        f"SELECT count(*), sum(list_sum(tokens)) FROM read_parquet('{out}/*/*.parquet')"
    ).fetchone()
    assert (n, s) == (len(rows), _token_sum(rows))

    chunks = list(_column_chunks(_parquet_files(out)))
    assert {c.compression for c in chunks} == {"ZSTD"}
    assert not any(c.has_dictionary_page for c in chunks)
    assert not any("DICTIONARY" in e for c in chunks for e in c.encodings)
    tokens = [c for c in chunks if c.path_in_schema == "tokens.list.element"]
    assert tokens and all("DELTA_BINARY_PACKED" in c.encodings for c in tokens)


def test_parquet_sink_overwrites_a_route_of_default_encoded_files(spark, tmp_path):
    """A sink first written by a plain df.write (snappy, v1 pages,
    dictionary) keeps reading back correctly after the sink writer
    dynamically overwrites one route with its own encoding."""
    import pyarrow.parquet as pq

    rows = _sink_rows()
    df = spark.createDataFrame(rows, SINK_SCHEMA)
    out = tmp_path / "mixed"
    df.write.partitionBy("route").parquet(str(out))
    assert {c.compression for c in _column_chunks(_parquet_files(out))} == {"SNAPPY"}

    counts = write_fanout_with_counts(df.filter(F.col("route") == "a"), str(out), ["a"])
    assert counts == {"a": _route_counts(rows)["a"], "default": 0}
    codec = {
        (f.parent.name, pq.ParquetFile(f).metadata.row_group(0).column(0).compression)
        for f in _parquet_files(out)
    }
    assert codec == {
        ("route=a", "ZSTD"),
        ("route=b", "SNAPPY"),
        ("route=__HIVE_DEFAULT_PARTITION__", "SNAPPY"),
    }
    back = spark.read.parquet(str(out)).select(*df.columns)
    assert _digests(back) == _digests(df)
