"""Second operator-query batch: the remaining SURVEY.md §2 inventory —
parsers (csv/uri/trace/syslog/time/container/grok/jsonarray), enrichment
(k8sattributes broadcast join, geoip range join), connectors
(signaltometrics/exceptions/slowsql/otlpjson), processors
(schema/resourcedetection), stanza field transformers, OTTL map editors,
and the mapHash16/FNV partition-key parity surface (rows-only).

REGISTRY_OPS2 maps name -> (query_fn, oracle_sql | None).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ottl
from ..functions.hashes import fnv1a64, map_hash16_hex
from ..operators import connectors, parsers, processors, transformers
from ..operators.enrich import geoip_enrich, k8sattributes_enrich


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# parsers
# ---------------------------------------------------------------------------


def q_csv_parser(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string(
            "%d,%s,%.2f", F.col("event_id"), F.col("event_type"), F.col("value")
        ),
    )
    out = parsers.csv_parser(ev, header=["id", "etype", "val"])
    return out.select(
        F.element_at("attributes", "id").cast("long").alias("id"),
        F.element_at("attributes", "etype").alias("etype"),
        F.element_at("attributes", "val").alias("val"),
    )


SQL_CSV_PARSER = """
SELECT event_id AS id, event_type AS etype, printf('%.2f', value) AS val FROM events
"""


def q_uri_parser(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string(
            "https://svc-%d.example.com:8443/api/v1/items/%d?user=%d",
            F.col("user_id") % 5,
            F.col("event_id") % 100,
            F.col("user_id"),
        ),
    )
    out = parsers.uri_parser(ev)
    return out.select(
        "event_id",
        F.element_at("attributes", "scheme").alias("scheme"),
        F.element_at("attributes", "host").alias("host"),
        F.element_at("attributes", "port").cast("int").alias("port"),
        F.element_at("attributes", "path").alias("path"),
        F.element_at("attributes", "query").alias("query"),
    )


SQL_URI_PARSER = """
SELECT event_id, 'https' AS scheme,
       'svc-' || (user_id % 5)::VARCHAR || '.example.com' AS host,
       8443 AS port,
       '/api/v1/items/' || (event_id % 100)::VARCHAR AS path,
       'user=' || user_id::VARCHAR AS query
FROM events
"""


def q_trace_parser(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "tid", F.md5(F.col("event_id").cast("string"))
    ).withColumn(
        "sid", F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit("s"))), 1, 16)
    ).withColumn("fl", F.lit("1"))
    out = parsers.trace_parser(ev, trace_id_from="tid", span_id_from="sid", flags_from="fl")
    return out.select("event_id", "trace_id", "span_id", "flags")


SQL_TRACE_PARSER = """
SELECT event_id, md5(event_id::VARCHAR) AS trace_id,
       substr(md5(event_id::VARCHAR || 's'), 1, 16) AS span_id, 1 AS flags
FROM events
"""


def q_syslog_rfc3164(spark, sf_dir):
    pri = (F.col("user_id") % 192).cast("int")
    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string(
            "<%d>Oct 10 13:55:36 host-%d app%d[%d]: event %d occurred",
            pri, F.col("user_id") % 10, F.col("user_id") % 3,
            F.col("event_id") % 9999, F.col("event_id"),
        ),
    )
    out = parsers.syslog_parser(ev, protocol="rfc3164")
    return out.select(
        "event_id",
        F.element_at("attributes", "hostname").alias("hostname"),
        F.element_at("attributes", "appname").alias("appname"),
        F.element_at("attributes", "proc_id").cast("long").alias("proc_id"),
        F.element_at("attributes", "message").alias("message"),
        "severity_number",
        "facility",
    )


SQL_SYSLOG_RFC3164 = """
SELECT event_id,
       'host-' || (user_id % 10)::VARCHAR AS hostname,
       'app' || (user_id % 3)::VARCHAR AS appname,
       event_id % 9999 AS proc_id,
       'event ' || event_id::VARCHAR || ' occurred' AS message,
       CASE (user_id % 192) % 8
         WHEN 0 THEN 24 WHEN 1 THEN 22 WHEN 2 THEN 21 WHEN 3 THEN 17
         WHEN 4 THEN 13 WHEN 5 THEN 10 WHEN 6 THEN 9 ELSE 5 END AS severity_number,
       ((user_id % 192) // 8)::INT AS facility
FROM events
"""


def q_syslog_rfc5424(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string(
            "<165>1 2025-10-10T13:55:36Z host-%d app - ID%d - msg %d",
            F.col("user_id") % 10, F.col("event_id") % 100, F.col("event_id"),
        ),
    )
    out = parsers.syslog_parser(ev, protocol="rfc5424")
    return out.select(
        "event_id",
        F.element_at("attributes", "version").cast("int").alias("version"),
        F.element_at("attributes", "hostname").alias("hostname"),
        F.element_at("attributes", "msg_id").alias("msg_id"),
        F.element_at("attributes", "message").alias("message"),
        "severity_number",
    )


SQL_SYSLOG_RFC5424 = """
SELECT event_id, 1 AS version, 'host-' || (user_id % 10)::VARCHAR AS hostname,
       'ID' || (event_id % 100)::VARCHAR AS msg_id,
       'msg ' || event_id::VARCHAR AS message,
       10 AS severity_number  -- pri 165: sev 5 (notice) -> INFO2 = 10
FROM events
"""


def q_time_parser(spark, sf_dir):
    ev = _events(spark, sf_dir)
    ev = ev.withColumn("ts_str", F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss"))
    ev = ev.withColumn("ts_ms", (F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("long"))
    out = parsers.time_parser(ev, "ts_str", "%Y-%m-%d %H:%M:%S", "strptime", out_col="t1")
    out = parsers.time_parser(out, "ts_ms", "ms", "epoch", out_col="t2")
    return out.select(
        "event_id",
        F.unix_seconds(F.col("t1").cast("timestamp")).alias("t1_s"),
        F.unix_micros(F.col("t2").cast("timestamp")).alias("t2_us"),
    )


SQL_TIME_PARSER = """
SELECT event_id, epoch(date_trunc('second', ts))::BIGINT AS t1_s,
       (epoch_us(ts) // 1000) * 1000 AS t2_us
FROM events
"""


def q_container_parser(spark, sf_dir):
    docker = F.format_string(
        '{"log":"line %d","stream":"stdout","time":"2025-10-10T13:55:36Z"}',
        F.col("event_id"),
    )
    crio = F.format_string(
        "2025-10-10T13:55:36.000Z stderr F line %d", F.col("event_id")
    )
    ev = _events(spark, sf_dir).withColumn(
        "body", F.when(F.col("event_id") % 2 == 0, docker).otherwise(crio)
    )
    out = parsers.container_parser(ev)
    return out.select(
        "event_id",
        F.coalesce(
            F.element_at("attributes", "stream"), F.element_at("attributes", "stream")
        ).alias("stream"),
        F.coalesce(
            F.element_at("attributes", "log"), F.element_at("attributes", "log")
        ).alias("log"),
    )


SQL_CONTAINER_PARSER = """
SELECT event_id,
       CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS stream,
       'line ' || event_id::VARCHAR AS log
FROM events
"""


def q_grok_parser(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string(
            "10.0.%d.%d GET /api/v1/items/%d 200",
            F.col("user_id") % 256, F.col("event_id") % 256, F.col("event_id") % 100,
        ),
    )
    out = parsers.grok_parser(
        ev,
        "%{IP:client} %{WORD:method} %{NOTSPACE:path} %{INT:status}",
    )
    return out.select(
        "event_id",
        F.element_at("attributes", "client").alias("client"),
        F.element_at("attributes", "method").alias("method"),
        F.element_at("attributes", "path").alias("path"),
        F.element_at("attributes", "status").cast("int").alias("status"),
    )


SQL_GROK_PARSER = """
SELECT event_id,
       '10.0.' || (user_id % 256)::VARCHAR || '.' || (event_id % 256)::VARCHAR AS client,
       'GET' AS method, '/api/v1/items/' || (event_id % 100)::VARCHAR AS path,
       200 AS status
FROM events
"""


def q_jsonarray_parser(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string('[%d, %d, %d]', F.col("event_id"), F.col("user_id"), F.col("event_id") % 7),
    )
    out = parsers.jsonarray_parser(ev, element_type="bigint")
    return out.select(
        "event_id",
        F.element_at("parsed_array", 2).alias("second"),
        F.size("parsed_array").alias("n"),
    )


SQL_JSONARRAY_PARSER = """
SELECT event_id, user_id AS second, 3 AS n FROM events
"""


# ---------------------------------------------------------------------------
# enrichment
# ---------------------------------------------------------------------------


def _pod_meta(spark: SparkSession) -> DataFrame:
    rows = [
        (f"10.0.0.{i}", f"pod-{i}", f"ns-{i % 4}", f"node-{i % 3}") for i in range(16)
    ]
    return spark.createDataFrame(
        rows, "pod_ip string, pod_name string, namespace string, node_name string"
    )


def q_k8sattributes(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "pod_ip", F.format_string("10.0.0.%d", F.col("user_id") % 32)
    ).withColumn("resource_attributes", F.create_map().cast("map<string,string>"))
    out = k8sattributes_enrich(ev, _pod_meta(spark))
    return out.groupBy(
        F.element_at("resource_attributes", "k8s.pod.name").alias("pod"),
        F.element_at("resource_attributes", "k8s.namespace.name").alias("ns"),
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_K8SATTRIBUTES = """
SELECT CASE WHEN user_id % 32 < 16 THEN 'pod-' || (user_id % 32)::VARCHAR END AS pod,
       CASE WHEN user_id % 32 < 16 THEN 'ns-' || ((user_id % 32) % 4)::VARCHAR END AS ns,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def _geo_blocks(spark: SparkSession) -> DataFrame:
    # 10.0.0.0/18 US, 10.0.64.0/18 DE, 10.0.128.0/18 JP, 10.0.192.0/18 BR
    base = 10 * 16777216
    rows = [
        (base, base + 64 * 256 - 1, "US"),
        (base + 64 * 256, base + 128 * 256 - 1, "DE"),
        (base + 128 * 256, base + 192 * 256 - 1, "JP"),
        (base + 192 * 256, base + 256 * 256 - 1, "BR"),
    ]
    return spark.createDataFrame(rows, "ip_start long, ip_end long, country string")


def q_geoip(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "ip", F.format_string("10.0.%d.%d", F.col("user_id") % 256, F.col("event_id") % 256)
    )
    out = geoip_enrich(ev, _geo_blocks(spark))
    return out.groupBy("country").agg(F.count(F.lit(1)).alias("n"))


SQL_GEOIP = """
SELECT CASE ((user_id % 256) // 64)::INT
         WHEN 0 THEN 'US' WHEN 1 THEN 'DE' WHEN 2 THEN 'JP' ELSE 'BR' END AS country,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# connectors
# ---------------------------------------------------------------------------


def q_signaltometrics(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("bucket", (F.col("user_id") % 10).cast("int"))
    out = connectors.signaltometrics_connector(
        ev, dims=["event_type", "bucket"], value=F.col("value"), metric_type="sum"
    )
    return out.select(
        "event_type", "bucket", F.round("value", 4).alias("value"), "metric_name"
    )


SQL_SIGNALTOMETRICS = """
SELECT event_type, (user_id % 10)::INT AS bucket, ROUND(SUM(value), 4) AS value,
       'signal.metric' AS metric_name
FROM events GROUP BY 1, 2
"""


def q_exceptions(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "event_name",
        F.when(F.col("event_type") == "error", "exception").otherwise("other"),
    ).withColumn("service_name", F.format_string("svc-%d", F.col("user_id") % 5))
    return connectors.exceptions_connector(ev)


SQL_EXCEPTIONS = """
SELECT 'svc-' || (user_id % 5)::VARCHAR AS service_name, COUNT(*) AS exception_count
FROM events WHERE event_type = 'error' GROUP BY 1
"""


def q_slowsql(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "duration_ns", (F.col("value") * 1e6).cast("long")
    ).withColumn(
        "attributes",
        F.when(
            F.col("event_type") == "purchase",
            F.create_map(F.lit("db.system"), F.lit("postgres")),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    out = connectors.slowsql_connector(ev, threshold_ns=100_000_000)
    return out.select("event_id", "duration_ns")


SQL_SLOWSQL = """
SELECT event_id, floor(value * 1e6)::BIGINT AS duration_ns FROM events
WHERE event_type = 'purchase' AND floor(value * 1e6)::BIGINT > 100000000
"""


def q_otlpjson(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string(
            '{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name",'
            '"value":{"stringValue":"svc-%d"}}]},"scopeLogs":[{"scope":{"name":"app"},'
            '"logRecords":[{"timeUnixNano":"%d","severityNumber":%d,"severityText":"INFO",'
            '"body":{"stringValue":"event %d"}}]}]}]}',
            F.col("user_id") % 5,
            F.col("event_id") * F.lit(1000000),
            (F.col("user_id") % 24).cast("int") + 1,
            F.col("event_id"),
        ),
    )
    out = connectors.otlpjson_connector(ev)
    return out.select(
        F.element_at("resource_attributes", "service.name").alias("service"),
        "scope_name",
        "time_unix_nano",
        "severity_number",
        "body",
    )


SQL_OTLPJSON = """
SELECT 'svc-' || (user_id % 5)::VARCHAR AS service, 'app' AS scope_name,
       event_id * 1000000 AS time_unix_nano,
       (user_id % 24)::INT + 1 AS severity_number,
       'event ' || event_id::VARCHAR AS body
FROM events
"""


# ---------------------------------------------------------------------------
# processors + transformers + OTTL editors
# ---------------------------------------------------------------------------


def q_schema_processor(spark, sf_dir):
    ev = _events(spark, sf_dir)
    ev = parsers.json_parser(ev, parse_from="props", parse_to="attributes")
    out = processors.schema_processor(ev, {"k": "event.key"})
    return out.select(
        "event_id",
        F.element_at("attributes", "event.key").cast("long").alias("event_key"),
        F.element_at("attributes", "k").alias("old_key"),
    )


SQL_SCHEMA_PROCESSOR = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS event_key,
       NULL AS old_key
FROM events
"""


def q_resourcedetection(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "resource_attributes",
        F.create_map(F.lit("host.name"), F.format_string("h-%d", F.col("user_id") % 3)),
    )
    out = processors.resourcedetection_processor(
        ev, {"cloud.provider": "aws", "host.name": "detected-host"}
    )
    return out.groupBy(
        F.element_at("resource_attributes", "cloud.provider").alias("provider"),
        F.element_at("resource_attributes", "host.name").alias("host"),
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_RESOURCEDETECTION = """
SELECT 'aws' AS provider, 'h-' || (user_id % 3)::VARCHAR AS host, COUNT(*) AS n
FROM events GROUP BY 2
"""


def q_field_transformers(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body", F.format_string('"msg %d"', F.col("event_id"))
    )
    out = transformers.add(ev, "env", "prod")
    out = transformers.unquote(out, "body")
    out = transformers.copy(out, "body", "body_copy")
    out = transformers.move(out, "props", "payload")
    out = transformers.regex_replace(out, "body_copy", r"\d+", "N")
    out = transformers.retain(out, ["event_id", "body", "body_copy", "env", "payload"])
    return out


SQL_FIELD_TRANSFORMERS = """
SELECT event_id, 'msg ' || event_id::VARCHAR AS body, 'msg N' AS body_copy,
       'prod' AS env, props AS payload
FROM events
"""


def q_ottl_map_editors(spark, sf_dir):
    ev = _events(spark, sf_dir)
    m = F.create_map(
        F.lit("k1"), F.col("event_type"),
        F.lit("k2"), F.col("user_id").cast("string"),
        F.lit("tmp.x"), F.lit("drop-me"),
        F.lit("longval"), F.lit("0123456789abcdef"),
    )
    m = ottl.set_key(m, "k3", F.lit("added"))
    m = ottl.delete_matching_keys(m, r"^tmp\.")
    m = ottl.truncate_all(m, 10)
    m = ottl.merge_maps(m, F.create_map(F.lit("k2"), F.lit("override")), "upsert")
    ev = ev.withColumn("m", m)
    return ev.select(
        "event_id",
        ottl.to_key_value_string(F.col("m")).alias("kv"),
        F.element_at("m", "k2").alias("k2"),
        F.size(ottl.keep_keys(F.col("m"), ["k1", "k3"])).alias("kept"),
    )


SQL_OTTL_MAP_EDITORS = """
SELECT event_id,
       'k1=' || event_type || ' k2=override k3=added longval=0123456789' AS kv,
       'override' AS k2, 2 AS kept
FROM events
"""


# ---------------------------------------------------------------------------
# partition-key parity surface (pandas-UDF hashes; rows-only checks)
# ---------------------------------------------------------------------------


def q_spanmetrics_exponential(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "duration_ns", (F.col("value") * 1e6).cast("long")
    ).withColumn("trace_id", F.md5(F.col("event_id").cast("string")))
    out = connectors.spanmetrics_exponential(
        ev, dims=["event_type"], scale=1, max_exemplars=2, trace_col="trace_id"
    )
    return out.select(
        "event_type", "bucket_index", "bucket_count", "calls",
        "duration_sum_ms", "zero_count",
        F.array_join("exemplar_traces", ",").alias("exemplars"),
    )


SQL_SPANMETRICS_EXPONENTIAL = """
WITH base AS (
  SELECT event_type, event_id,
         (floor(value * 1e6)::BIGINT)::DOUBLE / 1e6 AS ms,
         md5(event_id::VARCHAR) AS trace_id
  FROM events
), idx AS (
  SELECT event_type, trace_id, ms,
         CASE WHEN ms > 0 THEN ceil(log2(ms) * 2)::BIGINT - 1 END AS bucket_index
  FROM base
), per_bucket AS (
  SELECT event_type, bucket_index, COUNT(*) AS bucket_count,
         array_to_string((list_sort(list(DISTINCT trace_id)))[1:2], ',') AS exemplars
  FROM idx GROUP BY 1, 2
), totals AS (
  SELECT event_type, COUNT(*) AS calls, ROUND(SUM(ms), 4) AS duration_sum_ms,
         COUNT(*) FILTER (bucket_index IS NULL) AS zero_count
  FROM idx GROUP BY 1
)
SELECT p.event_type, p.bucket_index, p.bucket_count, t.calls,
       t.duration_sum_ms, t.zero_count, p.exemplars
FROM per_bucket p JOIN totals t USING (event_type)
"""


def q_config_pipeline(spark, sf_dir):
    """YAML-configured operator chain (collector config surface) compiled
    to one plan: parse -> severity -> OTTL transform -> filter -> route."""
    from .config import build_pipeline, routed_counts

    cfg = """
operators:
  - type: json_parser
    parse_from: props
  - type: transform
    statements:
      - 'set(attributes["bucket"], String(Int(Int(attributes["k"]) / 25)))'
  - type: filter
    conditions:
      - 'Int(attributes["k"]) < 10'
  - type: router
    routes:
      - name: low
        condition: 'attributes["bucket"] == "1"'
      - name: high
        condition: 'Int(attributes["k"]) >= 75'
"""
    ev = _events(spark, sf_dir)
    out = build_pipeline(cfg)(ev)
    return routed_counts(out)


SQL_CONFIG_PIPELINE = """
WITH k AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
), kept AS (SELECT * FROM k WHERE k >= 10)
SELECT CASE WHEN (k // 25) = 1 THEN 'low'
            WHEN k >= 75 THEN 'high' ELSE 'default' END AS route,
       COUNT(*) AS records_out
FROM kept GROUP BY 1
"""


def q_formatter_metric_rows(spark, sf_dir):
    """Metric-row formatting parity: sum-type datapoint rows
    (formatter.go:337-379 Value/AggregationTemporality/IsMonotonic +
    CH TimeUnix) from per-type aggregated events."""
    from ..sinks.formatter import format_sum_rows

    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 4).alias("value"),
        (F.max(F.unix_micros(F.col("ts").cast("timestamp"))) * 1000).alias("time_unix_nano"),
    )
    out = format_sum_rows(agg, dims=["event_type"])
    return out.select(
        "event_type", "TimeUnix", F.round("Value", 4).alias("Value"),
        "AggregationTemporality", "IsMonotonic",
    )


SQL_FORMATTER_METRIC_ROWS = """
WITH agg AS (
  SELECT event_type, ROUND(SUM(value), 4) AS value, MAX(ts) AS mts
  FROM events GROUP BY 1
)
SELECT event_type,
       strftime(mts, '%Y-%m-%d %H:%M:%S') || '.' ||
         lpad(((epoch_us(mts) % 1000000) * 1000)::VARCHAR, 9, '0') AS TimeUnix,
       ROUND(value, 4) AS Value, 2 AS AggregationTemporality, TRUE AS IsMonotonic
FROM agg
"""


def q_partition_keys(spark, sf_dir):
    """mapHash16 resource-hash + FNV-1a-64 partition keys
    (messenger.go:34-57 / fnvhasher.go parity — bit-exactness is asserted
    against hashlib/hand vectors in tests/test_hashes.py; no SQL oracle)."""
    ev = _events(spark, sf_dir).withColumn(
        "resource_attributes",
        F.create_map(
            F.lit("service.name"), F.format_string("svc-%d", F.col("user_id") % 5),
            F.lit("host.name"), F.format_string("h-%d", F.col("user_id") % 3),
        ),
    )
    return (
        ev.select(
            map_hash16_hex(F.col("resource_attributes")).alias("resource_hash"),
            fnv1a64(F.col("event_id").cast("string")).alias("fnv64"),
        )
        .groupBy("resource_hash")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("fnv64").alias("fnv_xor"))
    )


# Only entries not folded into a queries_suites suite remain here; the
# individual query fns above are kept for tests and as documentation of
# the single-operator shapes.
REGISTRY_OPS2: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "spanmetrics_exponential": (q_spanmetrics_exponential, SQL_SPANMETRICS_EXPONENTIAL),
    "config_pipeline_yaml": (q_config_pipeline, SQL_CONFIG_PIPELINE),
    "field_transformers": (q_field_transformers, SQL_FIELD_TRANSFORMERS),
    # partition_keys_maphash16_fnv (q_partition_keys above) left OUT of the
    # 50-entry registry: its driver check was rows-only (the hashes aren't
    # SQL-expressible) while tests/test_hashes.py already proves bit parity
    # against hashlib vectors — the slot buys more evidence as
    # sequence_packing's full oracle row.
}
