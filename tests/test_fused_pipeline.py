"""Fused (zero-shuffle) north-rule pipeline: routing totals, token-array
invariant, Observation-counts consistency, and plan shape (no Exchange)."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import datagen
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    DEFAULT_ROUTES,
    log_pipeline,
    log_pipeline_fused,
)
from opentelemetry_collector_contrib_spark.sinks.fanout import write_fanout_with_counts

N = 3000


def test_fused_matches_join_variant(spark):
    meta = datagen.source_meta(spark)
    fused_out = log_pipeline_fused(datagen.input_table(spark, N), meta)
    join_out = log_pipeline(
        datagen.sequences(spark, N), datagen.raw_logs(spark, N), meta
    )
    f = {r["sink"]: r["records_out"] for r in fused_out["counts"].collect()}
    j = {r["sink"]: r["records_out"] for r in join_out["counts"].collect()}
    assert f == j and sum(f.values()) == N


def test_parse_impls_agree(spark):
    """pyarrow-native (arrow_udf) and JVM-expression parse produce
    identical attribute maps on all four payload formats."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import parse_records

    logs = datagen.raw_logs(spark, 500)
    a = parse_records(logs, impl="jvm").select("doc_id", "attributes")
    b = parse_records(logs, impl="arrow").select("doc_id", "attributes")
    rows_a = {r["doc_id"]: r["attributes"] for r in a.collect()}
    rows_b = {r["doc_id"]: r["attributes"] for r in b.collect()}
    assert rows_a == rows_b


def test_json_subset_arrow_matches_per_row_model():
    """The NDJSON fast path (one C++ read_json + columnar map assembly)
    must match _json_one on every parity hazard it guards against:
    JSON-null values (present key, NULL value), duplicate keys
    (last-wins), huge ints (arbitrary precision), float formatting
    (python repr vs Arrow shortest-repr), timestamp-shaped strings,
    per-key mixed value types across rows, nested objects/arrays,
    NaN/Infinity (python-only JSON), raw newlines inside the object,
    leading whitespace, non-object/invalid bodies, escapes, and the
    happy path itself (incl. empty objects and ''-valued keys)."""
    import pyarrow as pa

    from opentelemetry_collector_contrib_spark.functions.vparse import (
        _json_one,
        _json_subset_arrow,
    )

    cases = [
        '{"ts":"2025-10-10T13:55:36.123456789Z","level":"ERROR","msg":"ok","svc":"a","attempt":3}',
        '{"a": "b", "n": 5, "x": null, "o": {"i": 1}}',
        '{"a":1,"a":2}',
        '{"big":123456789012345678901234567890}',
        '{"f":3.14,"g":1e16,"h":-2.5e-8,"i":123456789012345.6}',
        '{"t":"2025-10-10T13:55:36Z"}',
        '{"mix":1}',
        '{"mix":"x"}',
        "{}",
        '{"empty":""}',
        '{"esc":"\\u00e9\\tx"}',
        '  {"lead": "ws"}',
        '{"a":\n1}',
        "null",
        "true",
        "42",
        "[1,2]",
        "{bad",
        "",
        "NaN",
        '{"nan":NaN}',
        '{"k":"has null inside string"}',
        '{"u":"\\u0000zero"}',
        '{"neg":-7,"zero":0,"b1":true,"b2":false}',
        '{"s":"1e16"}',
        '{"dup":"a","dup":"b"}',
        '{"a":{"deep":{"x":[1,2]}}}',
        '{"weird key \\"q\\"":"v"}',
        '{"a":1}extra',
        '{"a":1} ',
        # int64/double silent promotion: a `1` token in a column that
        # also sees `2.5` arrives as double 1.0 — must stringify "1",
        # not "1.0" (regression: the fast path now punts any double
        # column holding an integral value)
        '{"p":1}',
        '{"p":2.5}',
        '{"q":1.0}',
        '{"r":1e3}',
    ]
    got = _json_subset_arrow(pa.array(cases, type=pa.string())).to_pylist()
    for b, g in zip(cases, got):
        assert (dict(g) if g is not None else None) == _json_one(b), b
    # sliced input (nonzero array offset) must window the value buffer
    sl = pa.array(cases, type=pa.string()).slice(3, 20)
    got2 = _json_subset_arrow(sl).to_pylist()
    for b, g in zip(cases[3:23], got2):
        assert (dict(g) if g is not None else None) == _json_one(b), b


def test_kv_subset_arrow_matches_per_row_model():
    """The zero-per-row-Python kv parser (split_pattern x2 + lexsort
    last-wins dedup) must match _kv_one on every edge shape: duplicate
    keys (incl. 3+ occurrences interleaved), '=' inside values, naked
    keys, empty keys ('=v'), empty values, consecutive-space empty
    tokens, leading/trailing whitespace, empty string."""
    import pyarrow as pa

    from opentelemetry_collector_contrib_spark.functions.vparse import (
        _kv_one,
        _kv_subset_arrow,
    )

    cases = [
        "k=1 b=2 c=3", "k=1 naked b=2", "k=1 k=2", " x=1", "weird=", "",
        "k=1  b=2", "a=b=c d", "k=1 k=2 k=3 z=9 k=4", "dup=a dup=",
        "=v", "= =x", "solo", "  a=1 b=2  ", "k==",
    ]
    got = _kv_subset_arrow(pa.array(cases, type=pa.string())).to_pylist()
    for c, g in zip(cases, got):
        assert dict(g) == _kv_one(c), c


def test_arrow_parse_batch_matches_reference_model():
    """The Arrow batch parser (C++ dispatch + RE2 extract + native
    MapArray assembly) must match the per-row reference model _parse_one
    on every edge case: malformed JSON/non-object JSON, kv without '=',
    duplicate kv keys (last wins), empty containerd log group, apache
    near-miss (prefix detects but extract returns NULL), NULL body,
    auto-detect dispatch, leading-space kv, empty kv value."""
    import pyarrow as pa

    from opentelemetry_collector_contrib_spark.functions.vparse import (
        _parse_multiformat_arrow_batch,
        _parse_one,
    )

    cases = [
        ('1.2.3.4 - alice [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 2326', 0),
        ('{"a": "b", "n": 5, "x": null, "o": {"i": 1}}', 1),
        ("k=1 b=2 c=3", 2),
        ("2023-10-10T13:55:36.993Z stdout F hello world", 3),
        ("not an apache line", 0),
        ("{bad json", 1),
        ("null", 1),
        ("[1,2]", 1),
        ("k=1 naked b=2", 2),
        ("k=1 k=2", 2),
        ("2023-10-10T13:55:36.993Z stderr P ", 3),
        (None, 1),
        ('{"z": "1"}', None),
        ("a=1 b=2", None),
        ('9.9.9.9 - - [x] "POST /y HTTP/1.1" 500 10', None),
        ("some random line here", None),
        ("1.2.3.4 - alice [broken", None),
        ("", 3),
        ("", None),
        (" x=1", 2),
        ("weird=", 2),
        (None, None),
    ]
    body = pa.array([c[0] for c in cases], type=pa.string())
    fmt = pa.array([c[1] for c in cases], type=pa.int32())
    got = _parse_multiformat_arrow_batch(body, fmt).to_pylist()
    for (b, f), g in zip(cases, got):
        want = _parse_one(b, f)
        assert (dict(g) if g is not None else None) == want, (b, f)


def test_fused_token_invariant_and_observed_counts(spark, tmp_path):
    meta = datagen.source_meta(spark)
    out = log_pipeline_fused(datagen.input_table(spark, N), meta)
    counts = write_fanout_with_counts(out["routed"], str(tmp_path / "s"), DEFAULT_ROUTES)
    assert sum(counts.values()) == N
    back = spark.read.parquet(str(tmp_path / "s"))
    ref = datagen.sequences(spark, N).select("doc_id", F.col("tokens").alias("ref"))
    mism = back.join(ref, "doc_id").filter(F.col("tokens") != F.col("ref")).count()
    assert mism == 0
    disk = {r["route"]: r["n"] for r in back.groupBy("route").agg(F.count("*").alias("n")).collect()}
    assert disk == counts


def test_fused_plan_has_no_shuffle(spark, tmp_path):
    """The fused pipeline must stay narrow: reading the input from parquet,
    the routed frame's physical plan contains no Exchange (the broadcast
    exchange for the meta lookup is allowed)."""
    path = str(tmp_path / "fused")
    datagen.input_table(spark, 1000).write.parquet(path)
    fused = spark.read.parquet(path)
    routed = log_pipeline_fused(fused, datagen.source_meta(spark))["routed"]
    plan = routed._jdf.queryExecution().executedPlan().toString()
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not shuffles, f"unexpected shuffle in fused plan:\n{plan}"


def test_all_impls_agree_on_edge_shapes(spark):
    """All three impls (jvm / arrow / hybrid) against the per-row
    model on the cross-engine hazard shapes: unicode word chars in the kv
    auto-detect (python \\w is unicode, RE2/Java ASCII), trailing-newline
    bodies on the anchored formats (python/Java `$` is newline-lenient,
    RE2 strict), whitespace-padded explicit-kv (Spark trim strips spaces
    only), NULL fmt on every format (the hybrid mask used `fmt == 2`,
    which is NULL for NULL fmt and silently masked every auto-detect row
    to NULL), and NULL bodies."""
    from opentelemetry_collector_contrib_spark.functions.vparse import _parse_one
    from opentelemetry_collector_contrib_spark.plans.pipeline import parse_records

    apache = '10.0.1.2 - user1 [10/Oct/2025:13:55:36 +0000] "GET /x HTTP/1.1" 200 5'
    ctd = "2025-10-10T13:55:36.123Z stdout F hello world"
    rows = [
        ("é=0", None),
        ("k=1\n", None),
        ("a=1 b=2", None),
        ("k=1\n", 2),
        ("\tk=1 b=2 ", 2),
        (" a=1  b=2", 2),
        ("x y=1", 2),
        (apache + "\n", None),
        (apache, None),
        (ctd, None),
        (ctd, 3),
        ('{"a": 1}', None),
        ('{"a": 1}', 1),
        (None, None),
        (None, 2),
    ]
    df = spark.createDataFrame(rows, "body string, fmt int")
    model = [_parse_one(b, f) for b, f in rows]
    for impl in ("jvm", "arrow", "hybrid"):
        out = parse_records(df, impl=impl).select("attributes").collect()
        got = [None if r[0] is None else dict(r[0]) for r in out]
        assert got == model, impl
