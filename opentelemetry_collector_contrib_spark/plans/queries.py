"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable with a DuckDB-equivalent oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the driver
test tables (events/documents/embeddings/...). Column names are aliased
identically on both sides; doubles are rounded to kill float-order noise.

REGISTRY maps name -> (query_fn, oracle_sql | None).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import connectors, parsers, processors, transformers
from . import pipeline as plans
from .queries_suites import _documents, _events, _us


# ---------------------------------------------------------------------------
# flagship + filter
# ---------------------------------------------------------------------------


def q_pipeline_events(spark, sf_dir):
    return plans.events_pipeline(spark, sf_dir)


SQL_PIPELINE_EVENTS = """
WITH sev AS (
  SELECT *,
    CASE WHEN event_type = 'error' THEN 17
         WHEN event_type = 'purchase' THEN 10 ELSE 9 END AS severity_number,
    CASE WHEN event_type = 'error' THEN 'errors'
         WHEN event_type = 'purchase' THEN 'revenue'
         WHEN event_type = 'signup' THEN 'growth'
         WHEN event_type = 'login' THEN 'auth'
         WHEN event_type = 'view' THEN 'traffic' END AS team
  FROM events
)
SELECT
  CASE WHEN severity_number >= 17 THEN 'errors'
       WHEN value > 150.0 THEN 'high_value'
       WHEN team = 'revenue' THEN 'team_revenue'
       ELSE 'default' END AS route,
  COUNT(*) AS records_out,
  ROUND(SUM(value), 4) AS total_value
FROM sev GROUP BY 1 ORDER BY route
"""


def q_filter_processor(spark, sf_dir):
    ev = _events(spark, sf_dir)
    kept = processors.filter_processor(
        ev, [F.col("event_type") == "error", F.col("value") < 10.0]
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("kept"))


SQL_FILTER_PROCESSOR = """
SELECT event_type, COUNT(*) AS kept FROM events
WHERE NOT (event_type = 'error' OR value < 10.0)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# transform / attributes
# ---------------------------------------------------------------------------


def q_transform_ottl(spark, sf_dir):
    from ..functions import ottl

    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        ottl.to_upper_case(F.col("event_type")).alias("etype_upper"),
        ottl.replace_pattern(F.col("props"), r"[0-9]+", "#").alias("props_redacted"),
        ottl.concat_(  # Concat converter
            "-", F.col("event_type"), F.col("user_id").cast("string")
        ).alias("etype_user"),
        F.substring(F.col("event_type"), 1, 3).alias("etype_3"),
    )


SQL_TRANSFORM_OTTL = """
SELECT event_id, UPPER(event_type) AS etype_upper,
       regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
       event_type || '-' || user_id::VARCHAR AS etype_user,
       substr(event_type, 1, 3) AS etype_3
FROM events
"""


def q_attributes_processor(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "attributes",
        F.map_from_arrays(
            F.array(F.lit("type"), F.lit("uid")),
            F.array(F.col("event_type"), F.col("user_id").cast("string")),
        ),
    )
    out = processors.attributes_processor(
        ev,
        [
            processors.AttrAction("insert", "env", value="prod"),
            processors.AttrAction("hash", "uid"),
            processors.AttrAction("upsert", "type2", from_attribute="type"),
            processors.AttrAction("delete", "type"),
        ],
    )
    # resourceprocessor = the SAME action list over the resource map
    # (processor/resourceprocessor/resource_processor.go applies
    # attraction.go to pcommon.Resource attributes)
    out = out.withColumn(
        "resource_attributes",
        F.create_map(F.lit("host"), F.format_string("h-%d", F.col("user_id") % 5)),
    )
    out = processors.attributes_processor(
        out,
        [
            processors.AttrAction("insert", "service.name", value="api"),
            processors.AttrAction("upsert", "host.alias", from_attribute="host"),
        ],
        target="resource_attributes",
    )
    return out.select(
        "event_id",
        F.element_at("attributes", "env").alias("env"),
        F.element_at("attributes", "uid").alias("uid_hash"),
        F.element_at("attributes", "type2").alias("type2"),
        F.element_at("attributes", "type").alias("type_deleted"),
        F.element_at("resource_attributes", "service.name").alias("res_service"),
        F.element_at("resource_attributes", "host.alias").alias("res_alias"),
    )


SQL_ATTRIBUTES_PROCESSOR = """
SELECT event_id, 'prod' AS env, sha256(user_id::VARCHAR) AS uid_hash,
       event_type AS type2, NULL AS type_deleted,
       'api' AS res_service,
       'h-' || (user_id % 5)::VARCHAR AS res_alias
FROM events
"""


def q_redaction(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "attributes", F.map_from_arrays(F.array(F.lit("props")), F.array(F.col("props")))
    )
    out = processors.redaction_processor(
        ev, allowed_keys=["props"], blocked_values=[r"[0-9]"], mask="*"
    )
    return out.select("event_id", F.element_at("attributes", "props").alias("props_masked"))


SQL_REDACTION = """
SELECT event_id, regexp_replace(props, '[0-9]', '*', 'g') AS props_masked FROM events
"""


def q_groupbyattrs(spark, sf_dir):
    ev = _events(spark, sf_dir)
    parsed = parsers.json_parser(ev, parse_from="props", parse_to="attributes")
    parsed = parsed.withColumn("resource_attributes", F.create_map().cast("map<string,string>"))
    out = processors.groupbyattrs_processor(parsed, ["k"])
    return out.groupBy(
        F.element_at("resource_attributes", "k").cast("long").alias("k")
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_GROUPBYATTRS = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# windowed / stateful processors
# ---------------------------------------------------------------------------


def q_logdedup(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = processors.logdedup_processor(
        ev.withColumn("bucket_ts", F.col("ts")),
        interval_seconds=600,
        ts_col="bucket_ts",
        key_cols=["user_id", "event_type"],
    )
    return out.select(
        "user_id",
        "event_type",
        "log_count",
        _us("first_observed").alias("first_us"),
        _us("last_observed").alias("last_us"),
    ).groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("log_count").alias("total"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
    )


SQL_LOGDEDUP = """
WITH w AS (
  SELECT user_id, event_type, to_timestamp(floor(epoch(ts)/600)*600) AS win,
         COUNT(*) AS log_count, MIN(ts) AS first_o, MAX(ts) AS last_o
  FROM events GROUP BY 1, 2, 3
)
SELECT user_id, event_type, COUNT(*) AS n_windows,
       CAST(SUM(log_count) AS BIGINT) AS total,
       MIN(epoch_us(first_o)) AS first_us, MAX(epoch_us(last_o)) AS last_us
FROM w GROUP BY 1, 2
"""


def q_interval_processor(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", _us("ts"))
    out = processors.interval_processor(
        ev.withColumn("ts", F.col("ts")), stream_cols=["user_id"], interval_seconds=3600,
        ts_col="ts", value_col="value",
    )
    return out.select(
        "user_id", _us("ts").alias("last_us"), F.round("value", 4).alias("value")
    ).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.max("last_us").alias("last_us"),
        F.round(F.sum("value"), 4).alias("sum_last_values"),
    )


SQL_INTERVAL_PROCESSOR = """
WITH last_per AS (
  SELECT user_id, to_timestamp(floor(epoch(ts)/3600)*3600) AS win,
         arg_max(value, epoch_us(ts)) AS value, MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_intervals, MAX(last_us) AS last_us,
       ROUND(SUM(ROUND(value, 4)), 4) AS sum_last_values
FROM last_per GROUP BY 1
"""


def q_probabilistic_sampler(spark, sf_dir):
    """All three sampler modes in one oracle row: hash_seed acceptance
    hashing, OTEP 235 equalizing (max of incoming/configured threshold),
    and OTEP 235 proportional (probability product), including the
    outgoing tracestate 'th' encodings. Incoming state: a synthetic
    32-hex trace id (md5) and a th column cycling p=0.5 / p=0.25 /
    absent."""
    ev = (
        _events(spark, sf_dir)
        .withColumn("tid", F.md5(F.col("event_id").cast("string")))
        .withColumn(
            "th_in",
            F.when(F.col("event_id") % 3 == 0, "8")  # incoming p = 0.5
            .when(F.col("event_id") % 3 == 1, "c"),  # incoming p = 0.25
        )
        .withColumn("eid_s", F.col("event_id").cast("string"))
    )
    hs = processors.probabilistic_sampler(ev, 25.0, key_col="eid_s").select(
        F.lit("hash_seed").alias("mode"),
        "event_type",
        F.lit(None).cast("string").alias("th_out"),
        "value",
    )
    eq = processors.probabilistic_sampler(
        ev, 50.0, key_col="tid", mode="equalizing", th_col="th_in"
    ).select(
        F.lit("equalizing").alias("mode"),
        "event_type",
        F.col("sampling_threshold").alias("th_out"),
        "value",
    )
    pr = processors.probabilistic_sampler(
        ev, 30.0, key_col="tid", mode="proportional", th_col="th_in"
    ).select(
        F.lit("proportional").alias("mode"),
        "event_type",
        F.col("sampling_threshold").alias("th_out"),
        "value",
    )
    return (
        hs.unionByName(eq)
        .unionByName(pr)
        .groupBy("mode", "event_type", "th_out")
        .agg(F.count(F.lit(1)).alias("kept"), F.round(F.sum("value"), 4).alias("v"))
    )


_M56 = "72057594037927936.0"  # 2^56 as a double literal

SQL_PROBABILISTIC_SAMPLER = f"""
WITH base AS (
  SELECT event_id, event_type, value,
         ('0x' || right(md5(event_id::VARCHAR), 14))::BIGINT AS r,
         CASE WHEN event_id % 3 = 0 THEN 36028797018963968
              WHEN event_id % 3 = 1 THEN 54043195528445952
              ELSE 0 END AS t_in
  FROM events
),
hs AS (
  SELECT 'hash_seed' AS mode, event_type, CAST(NULL AS VARCHAR) AS th_out, value
  FROM events
  WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT
        < {int((1 << 32) * 0.25)}
),
eq AS (
  SELECT 'equalizing' AS mode, event_type,
         CASE WHEN rtrim(printf('%014x', greatest(t_in, 36028797018963968)), '0') = ''
              THEN '0'
              ELSE rtrim(printf('%014x', greatest(t_in, 36028797018963968)), '0')
         END AS th_out,
         value
  FROM base WHERE greatest(t_in, 36028797018963968) <= r
),
pr0 AS (
  SELECT event_type, value, r,
         round((({_M56} - t_in) / {_M56}) * 0.3 * {_M56}) AS scaled
  FROM base
),
pr AS (
  SELECT 'proportional' AS mode, event_type,
         CASE WHEN rtrim(printf('%014x', ({_M56} - scaled)::BIGINT), '0') = ''
              THEN '0'
              ELSE rtrim(printf('%014x', ({_M56} - scaled)::BIGINT), '0')
         END AS th_out,
         value
  FROM pr0 WHERE scaled >= 1 AND ({_M56} - scaled) <= r
)
SELECT mode, event_type, th_out, COUNT(*) AS kept, ROUND(SUM(value), 4) AS v
FROM (SELECT * FROM hs UNION ALL SELECT * FROM eq UNION ALL SELECT * FROM pr)
GROUP BY 1, 2, 3
"""


def q_recombine_sessions(spark, sf_dir):
    # gaps-and-islands sessionization (recombine per-source batches):
    # new session when gap > 1800s
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = _us("ts") - F.lag(_us("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    tagged = ev.withColumn("sess", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        tagged.groupBy("user_id", "sess")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.max("n").alias("max_session_len"))
    )


SQL_RECOMBINE_SESSIONS = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g
), per AS (
  SELECT user_id, sess, COUNT(*) AS n FROM s GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n) AS max_session_len FROM per GROUP BY 1
"""


def q_servicegraph(spark, sf_dir):
    # edge metrics from consecutive event pairs per user (the client->server
    # pairing shape over our log-ish data)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    edges = ev.withColumn("prev", F.lag("event_type").over(w)).filter(F.col("prev").isNotNull())
    return edges.groupBy(F.col("prev").alias("client"), F.col("event_type").alias("server")).agg(
        F.count(F.lit(1)).alias("call_count")
    )


SQL_SERVICEGRAPH = """
SELECT prev AS client, event_type AS server, COUNT(*) AS call_count FROM (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM events
) WHERE prev IS NOT NULL GROUP BY 1, 2
"""


def q_spanmetrics(spark, sf_dir):
    # histogram of value as duration proxy: value ms -> ns
    ev = _events(spark, sf_dir).withColumn("duration_ns", (F.col("value") * 1e6).cast("long"))
    out = connectors.spanmetrics_connector(
        ev, dims=["event_type"], bounds_ms=[10.0, 50.0, 100.0, 150.0]
    )
    exploded = out.select(
        "event_type",
        "calls",
        F.round("duration_sum_ms", 4).alias("sum_ms"),
        F.posexplode("bucket_counts").alias("bucket", "n"),
    ).filter(F.col("n") > 0)
    return exploded


SQL_SPANMETRICS = """
WITH base AS (
  SELECT event_type, floor(value * 1e6)::BIGINT / 1e6 AS ms,
         CASE WHEN floor(value * 1e6)::BIGINT / 1e6 <= 10.0 THEN 0
              WHEN floor(value * 1e6)::BIGINT / 1e6 <= 50.0 THEN 1
              WHEN floor(value * 1e6)::BIGINT / 1e6 <= 100.0 THEN 2
              WHEN floor(value * 1e6)::BIGINT / 1e6 <= 150.0 THEN 3
              ELSE 4 END AS bucket
  FROM events
), tot AS (
  SELECT event_type, COUNT(*) AS calls, ROUND(SUM(ms), 4) AS sum_ms FROM base GROUP BY 1
)
SELECT b.event_type, t.calls, t.sum_ms, b.bucket, COUNT(*) AS n
FROM base b JOIN tot t USING (event_type)
GROUP BY 1, 2, 3, 4
"""


def q_unroll(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    out = processors.unroll_processor(docs.withColumn("words", F.split("text", " ")), "words", "word")
    return out.groupBy("word").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 5)


SQL_UNROLL = """
SELECT word, COUNT(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
) GROUP BY word HAVING COUNT(*) >= 5
"""


def q_groupbytrace(spark, sf_dir):
    # groupbytrace (release whole traces together) + coralogixprocessor
    # transactions in one suite: build a binary span tree per trace
    # (parent of rank r is rank (r-1)/2, root = rank 0), with 'purchase'
    # spans as SERVER transaction boundaries, then attribute every span to
    # its nearest boundary ancestor via the pointer-doubling walk.
    from ..operators.coralogix import coralogix_transactions

    ev = _events(spark, sf_dir)
    grouped = processors.groupbytrace_processor(ev, "user_id")
    rk = F.row_number().over(
        Window.partitionBy("user_id").orderBy("event_id")
    ) - F.lit(1)
    spans = grouped.withColumn("rk", rk).select(
        F.col("user_id").cast("string").alias("trace_id"),
        F.col("rk").cast("string").alias("span_id"),
        F.when(F.col("rk") > 0, ((F.col("rk") - 1) / 2).cast("long").cast("string"))
        .alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("span_name"),
        F.when(F.col("event_type") == "purchase", "server")
        .otherwise("internal")
        .alias("span_kind"),
        F.col("rk").cast("long").alias("start_ts"),
    )
    out = coralogix_transactions(spans)
    n_spans = F.count(F.lit(1)).over(Window.partitionBy("trace_id"))
    return out.select(
        F.col("trace_id").cast("long").alias("user_id"),
        F.col("span_id").cast("long").alias("span_rk"),
        n_spans.alias("n_spans"),
        F.col("cgx_transaction").alias("cgx_txn"),
        F.coalesce("cgx_transaction_root", F.lit(False)).alias("cgx_root"),
    )


SQL_GROUPBYTRACE = """
WITH RECURSIVE ranked AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rk,
         'op-' || event_type AS name,
         CASE WHEN event_type = 'purchase' THEN 'server' ELSE 'internal' END AS kind
  FROM events
), walk AS (
  SELECT user_id, rk, name AS txn, TRUE AS is_root
  FROM ranked WHERE rk = 0
  UNION ALL
  SELECT s.user_id, s.rk,
         CASE WHEN s.kind = 'server' THEN s.name ELSE w.txn END,
         s.kind = 'server'
  FROM ranked s JOIN walk w
    ON s.user_id = w.user_id AND (s.rk - 1) // 2 = w.rk AND s.rk > 0
)
SELECT r.user_id,
       r.rk AS span_rk,
       COUNT(*) OVER (PARTITION BY r.user_id) AS n_spans,
       w.txn AS cgx_txn,
       w.is_root AS cgx_root
FROM ranked r JOIN walk w ON r.user_id = w.user_id AND r.rk = w.rk
"""


def q_metricsgeneration(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("event_type").alias("metric"), "value", "event_id"
    )
    agg = ev.groupBy("user_id", "metric").agg(F.sum("value").alias("value"))
    out = processors.metricsgeneration_processor(
        agg, "purchase", "view", "divide", id_cols=["user_id"]
    )
    return out.select("user_id", "metric", F.round("value", 4).alias("value"))


SQL_METRICSGENERATION = """
WITH agg AS (
  SELECT user_id, event_type AS metric, SUM(value) AS value FROM events GROUP BY 1, 2
), a AS (SELECT user_id, value AS v1 FROM agg WHERE metric = 'purchase'),
   b AS (SELECT user_id, value AS v2 FROM agg WHERE metric = 'view')
SELECT a.user_id, 'purchase_divide_view' AS metric,
       ROUND(CASE WHEN v2 <> 0 THEN v1 / v2 END, 4) AS value
FROM a JOIN b USING (user_id)
"""


# ---------------------------------------------------------------------------
# exponential spanmetrics, YAML config pipeline, stanza field transformers
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


# ---------------------------------------------------------------------------
# Registry composition. The correctness gate checks at most 50 entries, so
# related operators share one suite query each (queries_suites.py). The
# order below is the registry's published order; keep it stable.
# ---------------------------------------------------------------------------

from .queries_dataprep import REGISTRY_DATAPREP  # noqa: E402
from .queries_suites import REGISTRY_SUITES  # noqa: E402

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # 1) suite queries, several operators per oracle row
    **REGISTRY_SUITES,
    # 2) single-operator queries
    "spanmetrics_exponential": (q_spanmetrics_exponential, SQL_SPANMETRICS_EXPONENTIAL),
    "config_pipeline_yaml": (q_config_pipeline, SQL_CONFIG_PIPELINE),
    "field_transformers": (q_field_transformers, SQL_FIELD_TRANSFORMERS),
    "pipeline_events": (q_pipeline_events, SQL_PIPELINE_EVENTS),
    "logdedup_processor": (q_logdedup, SQL_LOGDEDUP),
    "filter_processor": (q_filter_processor, SQL_FILTER_PROCESSOR),
    "transform_ottl": (q_transform_ottl, SQL_TRANSFORM_OTTL),
    "attributes_processor": (q_attributes_processor, SQL_ATTRIBUTES_PROCESSOR),
    "redaction_processor": (q_redaction, SQL_REDACTION),
    "groupbyattrs_processor": (q_groupbyattrs, SQL_GROUPBYATTRS),
    "groupbytrace_processor": (q_groupbytrace, SQL_GROUPBYTRACE),
    "interval_processor": (q_interval_processor, SQL_INTERVAL_PROCESSOR),
    "metricsgeneration_processor": (q_metricsgeneration, SQL_METRICSGENERATION),
    "probabilistic_sampler": (q_probabilistic_sampler, SQL_PROBABILISTIC_SAMPLER),
    "recombine_sessions": (q_recombine_sessions, SQL_RECOMBINE_SESSIONS),
    "servicegraph_connector": (q_servicegraph, SQL_SERVICEGRAPH),
    "spanmetrics_connector": (q_spanmetrics, SQL_SPANMETRICS),
    "unroll_processor": (q_unroll, SQL_UNROLL),
    **REGISTRY_DATAPREP,
}

assert len(REGISTRY) <= 50, f"registry has {len(REGISTRY)} entries; driver checks only 50"
