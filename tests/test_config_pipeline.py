"""Config-driven pipeline: collector-style YAML -> one Spark plan."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.config import build_pipeline, routed_counts

YAML_CONFIG = """
operators:
  - type: json_parser
    parse_from: body
  - type: severity_parser
    parse_from: attributes[level]
  - type: transform
    statements:
      - set(attributes["env"], "prod") where severity_number >= 17
      - delete_key(attributes, "password")
  - type: filter
    conditions:
      - attributes["drop_me"] == "yes"
  - type: router
    routes:
      - name: errors
        condition: severity_number >= 17
      - name: audit
        condition: 'attributes["env"] == "prod"'
"""


def test_yaml_pipeline_end_to_end(spark):
    rows = [
        {"level": "error", "password": "x", "msg": "boom"},
        {"level": "info", "msg": "fine"},
        {"level": "info", "drop_me": "yes", "msg": "noise"},
        {"level": "warn", "msg": "meh"},
    ]
    df = spark.createDataFrame([(json.dumps(r),) for r in rows], "body string")
    run = build_pipeline(YAML_CONFIG)
    out = run(df)

    got = {r["route"]: r["records_out"] for r in routed_counts(out).collect()}
    # error -> errors route; info+warn stay default; drop_me filtered out
    assert got == {"errors": 1, "default": 2}

    err = out.filter(F.col("route") == "errors").first()
    assert err["attributes"]["env"] == "prod"
    assert "password" not in err["attributes"]
    assert err["severity_number"] == 17


def test_dict_config_with_stanza_parsers(spark):
    cfg = {
        "operators": [
            {"type": "regex_parser", "regex": r"^(?P<lvl>\w+) (?P<msg>.*)$"},
            {"type": "severity_parser", "parse_from": "attributes[lvl]"},
            {"type": "add", "field": "attributes.seen", "value": "1"},
            {"type": "retain", "fields": ["attributes", "severity_number"]},
        ]
    }
    df = spark.createDataFrame([("ERROR disk full",), ("INFO ok",)], "body string")
    out = build_pipeline(cfg)(df)
    rows = {r["attributes"]["msg"]: r for r in out.collect()}
    assert rows["disk full"]["severity_number"] == 17
    assert rows["ok"]["severity_number"] == 9
    assert rows["ok"]["attributes"]["seen"] == "1"
    assert out.columns == ["attributes", "severity_number"]


def test_config_span_and_tailsampling_and_metricstransform(spark):
    """Round-2 config surface: span / tail_sampling / metricstransform
    blocks compile from YAML to the same results as the direct operators."""
    from opentelemetry_collector_contrib_spark.plans.config import build_pipeline

    spans = spark.createDataFrame(
        [
            ("t1", "/api/v1/document/7/update", 600_000_000),
            ("t1", "op-b", 1_000_000),
            ("t2", "op-c", 2_000_000),
        ],
        "trace_id string, span_name string, duration_ns long",
    ).withColumn("attributes", F.create_map().cast("map<string,string>"))
    cfg = """
operators:
  - type: span
    name:
      to_attributes:
        rules:
          - '^/api/v1/document/(?P<documentId>.*)/update$'
  - type: tail_sampling
    trace_col: trace_id
    policies:
      - name: slow
        type: latency
        threshold_ms: 500
"""
    out = build_pipeline(cfg)(spans)
    rows = out.collect()
    assert {r["trace_id"] for r in rows} == {"t1"}  # whole trace kept
    doc = [r for r in rows if r["attributes"].get("documentId")]
    assert doc and doc[0]["span_name"] == "/api/v1/document/{documentId}/update"

    metrics = spark.createDataFrame(
        [("sys.mem", {"host": "a"}, 100.0)],
        "metric string, labels map<string,string>, value double",
    )
    mt = build_pipeline(
        {
            "operators": [
                {
                    "type": "metricstransform",
                    "transforms": [
                        {"include": "sys.mem", "action": "update", "new_name": "system.memory",
                         "operations": [{"action": "experimental_scale_value",
                                         "experimental_scale": 2.0}]},
                    ],
                }
            ]
        }
    )(metrics)
    r = mt.first()
    assert r["metric"] == "system.memory" and r["value"] == 200.0


def _collector_config(tmp_path, exporters: dict[str, str]) -> str:
    """filelog (regex + severity parsers) -> filter -> transform over 100
    generated lines, fanned out to `exporters` ({name: format}) and nop."""
    logdir = tmp_path / "logs"
    logdir.mkdir()
    with open(logdir / "app.log", "w") as f:
        for i in range(100):
            lvl = "ERROR" if i % 10 == 0 else "INFO"
            f.write(f"{lvl} code={i} msg=event-{i}\n")
    exp_cfg = "".join(f"  {e}:\n    format: {fmt}\n" for e, fmt in exporters.items())
    return f"""
receivers:
  filelog:
    include: [{logdir}/*.log]
    operators:
      - type: regex_parser
        regex: '^(?P<level>\\w+) code=(?P<code>\\d+)'
      - type: severity_parser
        parse_from: attributes[level]
processors:
  filter/drop_debug:
    logs:
      log_record:
        - 'Int(attributes["code"]) >= 90'
  transform/tag:
    log_statements:
      - statements:
          - 'set(attributes["env"], "prod")'
exporters:
{exp_cfg}service:
  pipelines:
    logs:
      receivers: [filelog]
      processors: [filter/drop_debug, transform/tag]
      exporters: [{", ".join(exporters)}, nop]
"""


def test_full_collector_config_end_to_end(spark, tmp_path):
    """receivers -> processors -> exporters -> service.pipelines: the
    reference's actual YAML layout compiled and run, multi-exporter
    fan-out + obsreport counts."""
    import glob
    import json
    import os
    import pathlib

    import pyarrow.parquet as pq

    from opentelemetry_collector_contrib_spark.plans.config import compile_collector_config

    cfg = _collector_config(tmp_path, {"clickhouse": "parquet", "file/backup": "json"})
    plan = compile_collector_config(cfg)
    out = str(tmp_path / "out")
    counts = plan.run(spark, out)
    # 100 lines, 10 dropped (code >= 90) -> 90 per exporter
    assert counts["logs"]["clickhouse"] == 90
    assert counts["logs"]["file/backup"] == 90
    # files actually landed, one partition dir per exporter
    subdirs = os.listdir(f"{out}/logs")
    assert any("clickhouse" in d for d in subdirs)
    assert any("backup" in d for d in subdirs)
    # parquet sink round-trips with the transform applied
    back = spark.read.parquet(f"{out}/logs/__exporter=clickhouse")
    assert back.count() == 90
    row = back.filter(F.element_at("attributes", "code") == "10").first()
    assert row["attributes"]["env"] == "prod"
    assert row["severity_number"] == 17  # ERROR line
    # the json exporter holds the same rows
    as_json = spark.read.json(f"{out}/logs/__exporter=file%2Fbackup")
    sums = [
        d.agg(F.count(F.lit(1)), F.sum(F.crc32("body"))).first()
        for d in (back, as_json)
    ]
    assert sums[0] == sums[1]
    # the parquet exporter writes the sink encoding (zstd, v2 pages with
    # delta encodings, no dictionary); the json exporter still writes
    # plain uncompressed JSON lines
    files = sorted(glob.glob(f"{out}/logs/__exporter=clickhouse/*.parquet"))
    chunks = [
        meta.row_group(g).column(c)
        for meta in (pq.ParquetFile(f).metadata for f in files)
        for g in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    ]
    assert chunks and {c.compression for c in chunks} == {"ZSTD"}
    assert not any(c.has_dictionary_page for c in chunks)
    body = [c for c in chunks if c.path_in_schema == "body"]
    assert body and all("DELTA_BYTE_ARRAY" in c.encodings for c in body)
    parts = glob.glob(f"{out}/logs/__exporter=file%2Fbackup/part-*")
    assert parts and all(p.endswith(".json") for p in parts)
    lines = [json.loads(ln) for p in parts for ln in pathlib.Path(p).read_text().splitlines()]
    assert len(lines) == 90 and all("body" in x for x in lines)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _spy_writes(monkeypatch, spark, fail_on_call: int | None = None) -> list[bool]:
    """Wrap the per-format write: returns a list that records, per write
    job, whether a cached frame existed when it started. The call
    numbered `fail_on_call` (1-based) raises instead of writing."""
    from opentelemetry_collector_contrib_spark.sinks import fanout

    real = fanout.write_fanout_with_counts
    cached: list[bool] = []

    def spy(*args, **kwargs):
        cached.append(not _cache_is_empty(spark))
        if len(cached) == fail_on_call:
            raise RuntimeError("injected write failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(fanout, "write_fanout_with_counts", spy)
    # other tests' frames may still be cached in the shared session
    spark.catalog.clearCache()
    return cached


def test_multi_format_exporters_share_a_released_cache(spark, tmp_path, monkeypatch):
    """Exporters in two formats: both write jobs read one persisted
    upstream, and run() leaves nothing cached."""
    from opentelemetry_collector_contrib_spark.plans.config import compile_collector_config

    cached = _spy_writes(monkeypatch, spark)
    cfg = _collector_config(tmp_path, {"clickhouse": "parquet", "file/backup": "json"})
    counts = compile_collector_config(cfg).run(spark, str(tmp_path / "out"))
    assert counts["logs"] == {"clickhouse": 90, "file/backup": 90}
    assert cached == [True, True]
    assert _cache_is_empty(spark)


def test_cache_released_when_a_write_fails(spark, tmp_path, monkeypatch):
    import pytest

    from opentelemetry_collector_contrib_spark.plans.config import compile_collector_config

    cached = _spy_writes(monkeypatch, spark, fail_on_call=2)
    cfg = _collector_config(tmp_path, {"clickhouse": "parquet", "file/backup": "json"})
    with pytest.raises(RuntimeError, match="injected write failure"):
        compile_collector_config(cfg).run(spark, str(tmp_path / "out"))
    assert cached == [True, True]
    assert _cache_is_empty(spark)


def test_single_format_pipeline_never_persists(spark, tmp_path, monkeypatch):
    """Two exporters in one format share one write job, so there is no
    second job to share an upstream with: nothing is persisted."""
    from opentelemetry_collector_contrib_spark.plans.config import compile_collector_config

    cached = _spy_writes(monkeypatch, spark)
    cfg = _collector_config(tmp_path, {"clickhouse": "parquet", "file/archive": "parquet"})
    counts = compile_collector_config(cfg).run(spark, str(tmp_path / "out"))
    assert counts["logs"] == {"clickhouse": 90, "file/archive": 90}
    assert cached == [False]
    assert _cache_is_empty(spark)


def test_round3_operator_types_compile(spark):
    from opentelemetry_collector_contrib_spark.plans.config import build_pipeline

    yaml_cfg = """
operators:
  - type: sumologic
    add_cloud_namespace: true
  - type: datadogsemantics
  - type: probabilistic_sampler
    sampling_percentage: 50.0
    mode: equalizing
    key_col: trace_id
"""
    pipe = build_pipeline(yaml_cfg)
    df = spark.createDataFrame(
        [({"cloud.platform": "aws_ec2", "service.name": "s"},
          {"http.request.method": "GET"},
          "GET /", "SERVER", "UNSET", "", "c" + "f" * 31)],
        "resource_attributes map<string,string>, attributes map<string,string>, "
        "span_name string, span_kind string, status_code string, "
        "status_message string, trace_id string",
    )
    out = pipe(df).first()
    # sumologic ran on the span-attrs map; datadog derived columns exist;
    # the high-randomness trace survives the 50% equalizing sampler
    assert out["datadog_name"] == "http.server.request"
    assert out["sampling_threshold"] == "8"
    # journald / windows parser types also resolve
    build_pipeline({"operators": [{"type": "journald_parser"}]})
    build_pipeline({"operators": [{"type": "windows_event_parser"}]})
