"""Suite queries + round-2 additions.

The driver's correctness gate checks the FIRST 50 registry entries (r01
checked exactly base+dataprep+4); related operators are therefore grouped
into suite queries — each suite chains several operators over the same
scan and projects one column group per operator — so the whole inventory
fits under the cap and EVERY operator gets a driver-verified row.

Suite -> operators map (also in COVERAGE.md):
  parsers_structured   json_parser, csv_parser, key_value_parser, jsonarray_parser
  parsers_web          regex_parser, grok_parser (arrow impl), uri_parser, container_parser
  parsers_syslog_time  syslog rfc3164, rfc5424 (+structured data), time_parser x2,
                       trace_parser, severity_parser
  enrichment_suite     k8sattributes, geoip range join, resourcedetection
  metrics_temporal     deltatocumulative, cumulativetodelta, deltatorate,
                       metricstarttime (both strategies, round 3)
  metricstransform_full full op set + metric-context funcs + exp->explicit
                       histogram (round-3 folds)
  text_stats_suite     language_id, quality, token counts, fingerprint,
                       Gopher repetition/shape filters (round 3),
                       DSIR importance weights + Gumbel-top-k selection,
                       CCNet perplexity buckets (round-3 late)
  multimodal_suite     binary payload + metadata, decode stub
  count_sum_connectors count connector, sum connector
  routing_suite        routing connector (first-match), roundrobin connector,
                       kafka FNV-1a partition keys (bit-parity mirror, round 5)
  formatter_suite      clickhouse ts formatting, sum-metric rows
  otlpjson_slowsql     otlpjson connector, slowsql connector
  connector_metrics    signaltometrics, exceptions
  ottl_field_ops       OTTL map editors, schema processor renames,
                       statement grammar (parsed `set(...) where ...`, round 5)
  sequence_packing     pack_sequences, token_span_duplication,
                       exact_substring_removal, shuffle_sequences,
                       length_buckets (round-3 folds)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ottl, xmlfuncs
from ..functions.timefmt import clickhouse_ts
from ..dataprep.dedup import q4
from ..operators import connectors, parsers, processors
from ..operators.enrich import geoip_enrich, k8sattributes_enrich


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _us(col) -> F.Column:
    """epoch microseconds of a timestamp column (parquet loads TIMESTAMP_NTZ;
    session TZ is UTC so the cast is identity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# ---------------------------------------------------------------------------
# parser suites
# ---------------------------------------------------------------------------


def q_parsers_structured(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body_csv",
        F.format_string("%d,%s,%.2f", F.col("event_id"), F.col("event_type"), F.col("value")),
    ).withColumn(
        "body_kv",
        F.format_string("uid=%s etype=%s", F.col("user_id").cast("string"), F.col("event_type")),
    ).withColumn(
        "body_arr",
        F.format_string("[%d, %d, %d]", F.col("event_id"), F.col("user_id"), F.col("event_id") % 7),
    )
    from ..operators import transformers

    out = parsers.json_parser(ev, parse_from="props", parse_to="a_json")
    out = parsers.csv_parser(out, header=["id", "etype", "val"], parse_from="body_csv", parse_to="a_csv")
    out = parsers.keyvalue_parser(out, parse_from="body_kv", parse_to="a_kv")
    out = parsers.jsonarray_parser(out, parse_from="body_arr", element_type="bigint")
    # stanza assign_keys: zip the split csv body with key names
    out = out.withColumn("__parts", F.split(F.col("body_csv"), ","))
    out = transformers.assign_keys(out, "__parts", ["ak_id", "ak_etype", "ak_val"], out_col="a_ak")
    # stanza flatten: promote a nested map one level up (prefixed)
    out = out.withColumn("attributes", F.col("a_kv")).withColumn(
        "nested", F.create_map(F.lit("inner"), F.col("event_type"))
    )
    out = transformers.flatten(out, "nested")
    return out.select(
        "event_id",
        F.element_at("a_json", "k").cast("long").alias("k"),
        F.element_at("a_csv", "id").cast("long").alias("csv_id"),
        F.element_at("a_csv", "etype").alias("csv_etype"),
        F.element_at("a_csv", "val").alias("csv_val"),
        F.element_at("a_kv", "uid").cast("long").alias("kv_uid"),
        F.element_at("a_kv", "etype").alias("kv_etype"),
        F.element_at("parsed_array", 2).alias("arr_second"),
        F.size("parsed_array").alias("arr_n"),
        F.element_at("a_ak", "ak_etype").alias("ak_etype"),
        F.element_at("attributes", "nested.inner").alias("flat_inner"),
    )


SQL_PARSERS_STRUCTURED = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       event_id AS csv_id, event_type AS csv_etype, printf('%.2f', value) AS csv_val,
       user_id AS kv_uid, event_type AS kv_etype,
       user_id AS arr_second, 3 AS arr_n,
       event_type AS ak_etype, event_type AS flat_inner
FROM events
"""


def q_parsers_web(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "body_web",
        F.format_string(
            "10.0.%d.%d GET /api/v1/items/%d 200",
            F.col("user_id") % 256, F.col("event_id") % 256, F.col("event_id") % 100,
        ),
    ).withColumn(
        "body_uri",
        F.format_string(
            "https://svc-%d.example.com:8443/api/v1/items/%d?user=%d",
            F.col("user_id") % 5, F.col("event_id") % 100, F.col("user_id"),
        ),
    ).withColumn(
        "body_ctr",
        F.when(
            F.col("event_id") % 2 == 0,
            F.format_string(
                '{"log":"line %d","stream":"stdout","time":"2025-10-10T13:55:36Z"}',
                F.col("event_id"),
            ),
        ).otherwise(
            F.format_string("2025-10-10T13:55:36.000Z stderr F line %d", F.col("event_id"))
        ),
    )
    out = parsers.regex_parser(ev, r'"k": (?P<kval>\d+)', parse_from="props", parse_to="a_rx")
    out = parsers.grok_parser(
        out,
        "%{IP:client} %{WORD:method} %{NOTSPACE:path} %{INT:status}",
        # default impl (arrow RE2 since round 5) — the oracle verifies
        # the production path; arrow/jvm parity is pinned in tests
        parse_from="body_web", parse_to="a_grok",
    )
    out = parsers.uri_parser(out, parse_from="body_uri", parse_to="a_uri")
    out = parsers.container_parser(out, parse_from="body_ctr", parse_to="a_ctr")
    return out.select(
        "event_id",
        F.element_at("a_rx", "kval").alias("kval"),
        F.element_at("a_grok", "client").alias("client"),
        F.element_at("a_grok", "method").alias("method"),
        F.element_at("a_grok", "path").alias("path"),
        F.element_at("a_grok", "status").cast("int").alias("status"),
        F.element_at("a_uri", "scheme").alias("scheme"),
        F.element_at("a_uri", "host").alias("host"),
        F.element_at("a_uri", "port").cast("int").alias("port"),
        F.element_at("a_uri", "query").alias("uquery"),
        F.element_at("a_ctr", "stream").alias("stream"),
        F.element_at("a_ctr", "log").alias("clog"),
    )


SQL_PARSERS_WEB = """
SELECT event_id,
       regexp_extract(props, '"k": ([0-9]+)', 1) AS kval,
       '10.0.' || (user_id % 256)::VARCHAR || '.' || (event_id % 256)::VARCHAR AS client,
       'GET' AS method, '/api/v1/items/' || (event_id % 100)::VARCHAR AS path, 200 AS status,
       'https' AS scheme, 'svc-' || (user_id % 5)::VARCHAR || '.example.com' AS host,
       8443 AS port, 'user=' || user_id::VARCHAR AS uquery,
       CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS stream,
       'line ' || event_id::VARCHAR AS clog
FROM events
"""


def q_parsers_syslog_time(spark, sf_dir):
    pri = (F.col("user_id") % 192).cast("int")
    ev = _events(spark, sf_dir).withColumn(
        "body3164",
        F.format_string(
            "<%d>Oct 10 13:55:36 host-%d app%d[%d]: event %d occurred",
            pri, F.col("user_id") % 10, F.col("user_id") % 3,
            F.col("event_id") % 9999, F.col("event_id"),
        ),
    ).withColumn(
        "body5424",
        F.format_string(
            '<165>1 2025-10-10T13:55:36Z host-%d app - ID%d [meta seq="%d" src="u%d"] msg %d',
            F.col("user_id") % 10, F.col("event_id") % 100,
            F.col("event_id"), F.col("user_id"), F.col("event_id"),
        ),
    ).withColumn(
        "ts_str", F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
    ).withColumn(
        "ts_ms", (F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("long")
    ).withColumn(
        "tid", F.md5(F.col("event_id").cast("string"))
    ).withColumn(
        "sid", F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit("s"))), 1, 16)
    ).withColumn("fl", F.lit("1")).withColumn(
        "lvl",
        F.when(F.col("event_type") == "error", "Error")
        .when(F.col("event_type") == "purchase", "notice")
        .otherwise("INFO"),
    )
    out = parsers.syslog_parser(ev, protocol="rfc3164", parse_from="body3164", parse_to="a3")
    out = out.withColumnRenamed("severity_number", "sev3164").withColumnRenamed("facility", "fac3164")
    out = parsers.syslog_parser(out, protocol="rfc5424", parse_from="body5424", parse_to="a5")
    out = out.withColumnRenamed("severity_number", "sev5424").drop("facility")
    out = parsers.time_parser(out, "ts_str", "%Y-%m-%d %H:%M:%S", "strptime", out_col="t1")
    out = parsers.time_parser(out, "ts_ms", "ms", "epoch", out_col="t2")
    out = parsers.trace_parser(out, trace_id_from="tid", span_id_from="sid", flags_from="fl")
    out = parsers.severity_parser(out, "lvl", mapping={"notice": 10})
    out = parsers.scope_name_parser(out, "a5[appname]")

    # --- RFC6587 tcp framing round-trips (pkg/stanza/operator/input/tcp):
    # pack 5 messages per chunk, deframe, reparse, join back per event.
    # Octet-counting ("<len> <msg>" concatenated) exercises the
    # variable-length jump arithmetic; non-transparent (LF trailer) the
    # split+explode path. A deframe bug corrupts rt_* or drops rows.
    def _chunk_join(body_col, frame_expr, sep):
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("event_id").alias("i"), frame_expr.alias("f"))
                    )
                ),
                lambda x: x["f"],
            ),
            sep,
        )

    oc_frame = F.format_string("%d %s", F.length("body5424"), F.col("body5424"))
    chunks = ev.groupBy(F.floor(F.col("event_id") / 5).alias("chunk")).agg(
        _chunk_join("body5424", oc_frame, "").alias("oc_chunk"),
        _chunk_join("body3164", F.col("body3164"), "\n").alias("nt_chunk"),
        F.count(F.lit(1)).alias("rt_n_frames"),
    )
    oc = parsers.deframe_octet_counting(
        chunks.select("rt_n_frames", "oc_chunk"), col="oc_chunk", out_col="fr"
    )
    oc = parsers.syslog_parser(oc, protocol="rfc5424", parse_from="fr", parse_to="rt")
    oc_rows = oc.select(
        F.regexp_extract(F.element_at("rt", "message"), r"msg (\d+)", 1)
        .cast("long")
        .alias("event_id"),
        F.element_at("rt", "message").alias("rt5424_msg"),
        "rt_n_frames",
    )
    nt = parsers.deframe_non_transparent(
        chunks.select("nt_chunk"), col="nt_chunk", out_col="fr"
    )
    nt = parsers.syslog_parser(nt, protocol="rfc3164", parse_from="fr", parse_to="rt")
    nt_rows = nt.select(
        F.regexp_extract(F.element_at("rt", "message"), r"event (\d+) occurred", 1)
        .cast("long")
        .alias("event_id"),
        F.element_at("rt", "message").alias("rt3164_msg"),
    )
    out = out.join(oc_rows, "event_id").join(nt_rows, "event_id")
    return out.select(
        "event_id",
        "scope_name",
        F.element_at("a3", "hostname").alias("hostname3164"),
        F.element_at("a3", "appname").alias("appname3164"),
        F.element_at("a3", "proc_id").cast("long").alias("proc3164"),
        F.element_at("a3", "message").alias("msg3164"),
        "sev3164", "fac3164",
        F.element_at("a5", "hostname").alias("hostname5424"),
        F.element_at("a5", "msg_id").alias("msgid5424"),
        F.element_at("a5", "structured_data.meta.seq").cast("long").alias("sd_seq"),
        F.element_at("a5", "structured_data.meta.src").alias("sd_src"),
        F.element_at("a5", "message").alias("msg5424"),
        "sev5424",
        F.unix_seconds(F.col("t1").cast("timestamp")).alias("t1_s"),
        F.unix_micros(F.col("t2").cast("timestamp")).alias("t2_us"),
        "trace_id", "span_id", "flags",
        "severity_number", "severity_text",
        "rt5424_msg", "rt_n_frames", "rt3164_msg",
    )


SQL_PARSERS_SYSLOG_TIME = """
SELECT event_id,
       'app' AS scope_name,
       'host-' || (user_id % 10)::VARCHAR AS hostname3164,
       'app' || (user_id % 3)::VARCHAR AS appname3164,
       event_id % 9999 AS proc3164,
       'event ' || event_id::VARCHAR || ' occurred' AS msg3164,
       CASE (user_id % 192) % 8
         WHEN 0 THEN 24 WHEN 1 THEN 22 WHEN 2 THEN 21 WHEN 3 THEN 17
         WHEN 4 THEN 13 WHEN 5 THEN 10 WHEN 6 THEN 9 ELSE 5 END AS sev3164,
       ((user_id % 192) // 8)::INT AS fac3164,
       'host-' || (user_id % 10)::VARCHAR AS hostname5424,
       'ID' || (event_id % 100)::VARCHAR AS msgid5424,
       event_id AS sd_seq,
       'u' || user_id::VARCHAR AS sd_src,
       'msg ' || event_id::VARCHAR AS msg5424,
       10 AS sev5424,
       epoch(date_trunc('second', ts))::BIGINT AS t1_s,
       (epoch_us(ts) // 1000) * 1000 AS t2_us,
       md5(event_id::VARCHAR) AS trace_id,
       substr(md5(event_id::VARCHAR || 's'), 1, 16) AS span_id,
       1 AS flags,
       CASE WHEN event_type = 'error' THEN 17 WHEN event_type = 'purchase' THEN 10 ELSE 9 END AS severity_number,
       CASE WHEN event_type = 'error' THEN 'ERROR' WHEN event_type = 'purchase' THEN 'INFO2' ELSE 'INFO' END AS severity_text,
       'msg ' || event_id::VARCHAR AS rt5424_msg,
       COUNT(*) OVER (PARTITION BY event_id // 5) AS rt_n_frames,
       'event ' || event_id::VARCHAR || ' occurred' AS rt3164_msg
FROM events
"""


# ---------------------------------------------------------------------------
# enrichment suite
# ---------------------------------------------------------------------------


def _pod_meta(spark: SparkSession) -> DataFrame:
    rows = [(f"10.0.0.{i}", f"pod-{i}", f"ns-{i % 4}", f"node-{i % 3}") for i in range(16)]
    return spark.createDataFrame(
        rows, "pod_ip string, pod_name string, namespace string, node_name string"
    )


def _geo_blocks(spark: SparkSession) -> DataFrame:
    base = 10 * 16777216
    rows = [
        (base, base + 64 * 256 - 1, "US"),
        (base + 64 * 256, base + 128 * 256 - 1, "DE"),
        (base + 128 * 256, base + 192 * 256 - 1, "JP"),
        (base + 192 * 256, base + 256 * 256 - 1, "BR"),
    ]
    # prefix16 turns the pure range join (BroadcastNestedLoopJoin) into
    # the documented equi+range BroadcastHashJoin — the shape that holds
    # when the block table is a full GeoIP db (blocks spanning several
    # /16s would be duplicated per prefix; these fixtures don't)
    return spark.createDataFrame(
        [(s, e, c, s // 65536) for s, e, c in rows],
        "ip_start long, ip_end long, country string, prefix16 long",
    )


def _dns_table(spark: SparkSession) -> DataFrame:
    rows = [(f"host-{i}", f"192.168.0.{i}") for i in range(10)]
    return spark.createDataFrame(rows, "hostname string, resolved_ip string")


def q_enrichment_suite(spark, sf_dir):
    from ..operators.enrich import dns_enrich

    ev = _events(spark, sf_dir).withColumn(
        "pod_ip", F.format_string("10.0.0.%d", F.col("user_id") % 32)
    ).withColumn(
        "ip", F.format_string("10.0.%d.%d", F.col("user_id") % 256, F.col("event_id") % 256)
    ).withColumn(
        "hostname", F.format_string("host-%d", F.col("user_id") % 10)
    ).withColumn(
        "resource_attributes",
        F.create_map(F.lit("host.name"), F.format_string("h-%d", F.col("user_id") % 3)),
    )
    out = k8sattributes_enrich(ev, _pod_meta(spark))
    out = geoip_enrich(out, _geo_blocks(spark))
    out = dns_enrich(out, _dns_table(spark))
    out = processors.resourcedetection_processor(
        out, {"cloud.provider": "aws", "host.name": "detected-host"}
    )
    return out.groupBy(
        F.element_at("resource_attributes", "k8s.pod.name").alias("pod"),
        F.element_at("resource_attributes", "k8s.namespace.name").alias("ns"),
        F.col("country"),
        F.col("resolved_ip"),
        F.element_at("resource_attributes", "host.name").alias("host"),
        F.element_at("resource_attributes", "cloud.provider").alias("provider"),
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_ENRICHMENT_SUITE = """
SELECT CASE WHEN user_id % 32 < 16 THEN 'pod-' || (user_id % 32)::VARCHAR END AS pod,
       CASE WHEN user_id % 32 < 16 THEN 'ns-' || ((user_id % 32) % 4)::VARCHAR END AS ns,
       CASE ((user_id % 256) // 64)::INT
         WHEN 0 THEN 'US' WHEN 1 THEN 'DE' WHEN 2 THEN 'JP' ELSE 'BR' END AS country,
       '192.168.0.' || (user_id % 10)::VARCHAR AS resolved_ip,
       'h-' || (user_id % 3)::VARCHAR AS host,
       'aws' AS provider,
       COUNT(*) AS n
FROM events GROUP BY 1, 2, 3, 4, 5, 6
"""


# ---------------------------------------------------------------------------
# metric temporality suite
# ---------------------------------------------------------------------------


def q_metrics_temporal(spark, sf_dir):
    """deltatocumulative + cumulativetodelta + deltatorate PLUS
    metricstarttime (both strategies: true_reset_point anchor and
    subtract_initial_point rebasing) over one events scan."""
    ev = _events(spark, sf_dir)
    cum = processors.deltatocumulative_processor(
        ev, stream_cols=["user_id"], ts_col="event_id", value_col="value"
    ).select("event_id", "user_id", F.round("value", 4).alias("cumulative"))
    dlt = processors.cumulativetodelta_processor(
        ev, stream_cols=["user_id"], ts_col="event_id", value_col="value"
    ).select("event_id", F.round("value", 4).alias("delta"))
    rate = processors.deltatorate_processor(
        ev.withColumn("ts_s", _us("ts") / F.lit(1e6)),
        stream_cols=["user_id"], ts_col="ts_s", value_col="value",
    ).select("event_id", F.round("value", 4).alias("rate"))
    anchor = processors.metricstarttime_processor(
        ev, ["user_id"], ts_col="event_id", value_col="value",
        strategy="true_reset_point",
    ).select("event_id", F.col("start_time").alias("start_anchor"))
    rebased = processors.metricstarttime_processor(
        ev, ["user_id"], ts_col="event_id", value_col="value",
        strategy="subtract_initial_point",
    ).select("event_id", F.round("value", 4).alias("value_rebased"))
    return (
        cum.join(dlt, "event_id", "left")
        .join(rate, "event_id", "left")
        .join(anchor, "event_id", "left")
        .join(rebased, "event_id", "left")
    )


SQL_METRICS_TEMPORAL = """
WITH w AS (
  SELECT event_id, user_id, value,
         SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS d,
         epoch_us(ts)/1e6 - LAG(epoch_us(ts)/1e6)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)/1e6) AS dt
  FROM events
),
seg AS (
  SELECT event_id, user_id, value,
         SUM(CASE WHEN prev IS NULL OR value < prev THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sg
  FROM (SELECT event_id, user_id, value,
               LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        FROM events)
),
mst AS (
  SELECT event_id,
         MIN(event_id) OVER (PARTITION BY user_id, sg) AS start_anchor,
         ROUND(value - FIRST_VALUE(value)
               OVER (PARTITION BY user_id, sg ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS value_rebased
  FROM seg
)
SELECT w.event_id, w.user_id, ROUND(w.cum, 4) AS cumulative,
       ROUND(w.d, 4) AS delta,
       CASE WHEN w.dt IS NOT NULL AND w.dt > 0
            THEN ROUND(w.value / w.dt, 4) END AS rate,
       mst.start_anchor, mst.value_rebased
FROM w JOIN mst USING (event_id)
"""


# ---------------------------------------------------------------------------
# text stats + multimodal suites
# ---------------------------------------------------------------------------


# Fixed BPE merge table + vocab for the oracle-checked encode path:
# chosen so the corpus vocabulary exercises chained merges ('j','o' ->
# 'jo','i' -> 'joi','n' collapses 'join' to one piece), rank priority
# ('e','r' outranks 'o','r' inside 'order'), and untouched words. The
# vocab is the GPT-2 convention: alphabet first, then merge products in
# merge order.
BPE_TEST_MERGES = [
    ("a", "t"), ("h", "a"), ("at", "c"), ("s", "t"), ("e", "r"),
    ("er", "g"), ("o", "r"), ("r", "o"), ("l", "e"), ("q", "u"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
]
BPE_TEST_VOCAB: dict[str, int] = {
    c: i for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")
}
for _a, _b in BPE_TEST_MERGES:
    BPE_TEST_VOCAB.setdefault(_a + _b, len(BPE_TEST_VOCAB))

_BPE_MERGES_SQL = "[" + ", ".join(f"'{a}|{b}'" for a, b in BPE_TEST_MERGES) + "]"
_BPE_VOCAB_SQL = "[" + ", ".join(f"'{p}'" for p in BPE_TEST_VOCAB) + "]"


def q_text_stats_suite(spark, sf_dir):
    """language_id + quality + token counts + fingerprint PLUS the
    Gopher-style repetition/shape filters (Rae et al. 2021): distinct
    2-gram fraction, longest same-word run, symbol/word ratio, mean word
    length, and the combined keep/drop decision; PLUS DSIR importance
    resampling (Xie et al. 2023: dsir_logw + deterministic Gumbel-top-k
    dsir_selected) and CCNet perplexity buckets (Wenzek et al. 2020:
    ccnet_logppl + head/middle/tail ccnet_bucket)."""
    from ..dataprep import textstats

    docs = _documents(spark, sf_dir)
    ws_count, bpe_count = textstats.token_counts(F.col("text"))
    base = docs.select(
        "doc_id",
        textstats.language_id(F.col("text")).alias("lang_guess"),
        q4(textstats.english_ratio(F.col("text"))).alias("en_ratio"),
        textstats.quality_score(F.col("text")).alias("quality"),
        ws_count.alias("ws_tokens"),
        bpe_count.cast("long").alias("bpe_tokens"),
        textstats.fingerprint(F.col("text")).alias("fp"),
        textstats.distinct_ngram_fraction(F.col("text"), 2).alias("d2g_frac"),
        textstats.max_word_run(F.col("text")).alias("max_run"),
        textstats.symbol_word_ratio(F.col("text")).alias("sym_ratio"),
        textstats.mean_word_length(F.col("text")).alias("mean_wlen"),
    )
    # the keep decision reuses the projected (rounded) signal columns —
    # re-invoking gopher_quality_filter(text) would recompute every fold
    gopher = base.withColumn(
        "gopher_keep",
        (F.col("ws_tokens") >= 50)
        & (F.col("ws_tokens") <= 100_000)
        & F.col("mean_wlen").between(3.0, 10.0)
        & (F.col("sym_ratio") <= 0.1)
        & (F.col("d2g_frac") >= 0.2)
        & (F.col("max_run") <= 6),
    )
    # DSIR importance resampling (Xie et al. 2023): target = the English
    # slice, raw = the whole corpus; per-doc log importance weight + the
    # deterministic Gumbel-top-k selection flag. Fully declarative fit
    # (dsir_log_ratio_table) so the whole thing is one lazy plan.
    from ..dataprep import dsir

    B = 256
    corpus = docs.select("doc_id", "lang", "text")
    # hash/explode the corpus ONCE; the checkpointed (doc_id, lang, bucket)
    # table feeds the target counts, the raw counts, and the scorer
    # (without it the gram explode runs 3x, and dsir_select's topk
    # self-join doubles the whole weights pipeline on top)
    db = corpus.select(
        "doc_id", "lang", F.explode(dsir.gram_buckets(F.col("text"), B)).alias("bucket")
    ).localCheckpoint()
    ratios = dsir.dsir_log_ratio_table(
        spark,
        db.filter(F.col("lang") == "en").groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")),
        db.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")),
        buckets=B,
    )
    wts = (
        corpus.select("doc_id")
        .join(dsir.dsir_weights_from_exploded(db, ratios), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"))
        .localCheckpoint()
    )
    sel = dsir.dsir_select(wts, k=100).select(
        "doc_id",
        F.col("logw").alias("dsir_logw"),
        F.col("selected").alias("dsir_selected"),
    )
    # CCNet perplexity buckets (Wenzek et al. 2020): hashed-vocab bigram
    # LM fit on the English slice, everyone scored, head/middle/tail by
    # histogram-exact tertile cutoffs (ppl_bucket_hist — the scale-safe
    # path curate_corpus runs; the cumsum window is over the bounded
    # 4-decimal logppl value grid, never the corpus)
    from ..dataprep import ccnet

    CB = 64
    lm, ctx = ccnet.bigram_lm(corpus.filter(F.col("lang") == "en"), buckets=CB)
    scored = ccnet.score_logppl(corpus, lm, ctx, buckets=CB).localCheckpoint()
    cbuck = ccnet.ppl_bucket_hist(scored).select(
        "doc_id",
        F.col("logppl").alias("ccnet_logppl"),
        F.col("ppl_bucket").alias("ccnet_bucket"),
    )
    # BPE encode/decode under the oracle (round-4, VERDICT r3 #6): the
    # real tokenize.encode_ids path (Arrow-batched merge-rank encoder)
    # with a FIXED merge table + vocab (literals shared with the DuckDB
    # mirror, which replays the merge loop as a recursive CTE over the
    # distinct-word table). Covers chained merges (j-o -> jo-i -> joi-n),
    # rank priority, and the id roundtrip; train_bpe itself is
    # pytest-covered (the learned merges are corpus-dependent, so a
    # static oracle can't pin them).
    from ..dataprep import tokenize

    ids = tokenize.encode_ids(F.col("text"), BPE_TEST_MERGES, BPE_TEST_VOCAB)
    decoded = F.concat_ws("", tokenize.decode_ids(ids, BPE_TEST_VOCAB))
    bpe = docs.select(
        "doc_id",
        F.size(ids).alias("bpe_n_ids"),
        F.md5(
            F.concat_ws(",", F.transform(ids, lambda i: i.cast("string")))
        ).alias("bpe_ids_md5"),
        (decoded == F.regexp_replace(F.col("text"), " ", "")).alias(
            "bpe_roundtrip"
        ),
    )
    return gopher.join(sel, "doc_id").join(cbuck, "doc_id").join(bpe, "doc_id")


def _sql_text_stats() -> str:
    from ..dataprep import textstats

    stoplist = "[" + ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS) + "]"
    return rf"""
WITH RECURSIVE b AS (
  SELECT doc_id, text, string_split(text,' ') AS w,
         list_filter(string_split(text,' '), x -> x <> '') AS wn
  FROM documents
), m AS (
  -- every signal uses the non-empty word array wn: empty tokens from
  -- doubled spaces must not deflate ratios, pad token counts, shift the
  -- fingerprint, or read as repeated-word runs
  SELECT doc_id, text, wn, len(wn)::DOUBLE AS n,
         len(list_distinct(wn))::DOUBLE AS nd,
         list_sum(list_transform(wn,
           x -> CASE WHEN list_contains({stoplist}, x) THEN 1 ELSE 0 END))::DOUBLE AS hits,
         -- FLOOR(x*10000 + 0.5)/10000, not ROUND(x, 4): binary-exact
         -- quantizer shared with the Spark side (dedup.q4) — DuckDB
         -- ROUND and Spark round() disagree on exact .00005 boundaries
         FLOOR(len(list_distinct(list_transform(
                 range(1, greatest(len(wn)-1,1)+1),
                 i -> array_to_string(wn[i:i+1], ' '))))::DOUBLE
               / greatest(len(wn)-1, 1) * 10000 + 0.5)/10000 AS d2g_frac,
         -- Gopher's actual symbol targets: '#' and ellipsis
         FLOOR(len(regexp_extract_all(text, '#|…|\.\.\.'))::DOUBLE
               / greatest(len(wn), 1) * 10000 + 0.5)/10000 AS sym_ratio,
         FLOOR(COALESCE(list_sum(list_transform(wn, x -> length(x))), 0)::DOUBLE
               / greatest(len(wn), 1) * 10000 + 0.5)/10000 AS mean_wlen
  FROM b
), runs AS (
  -- zipped SELECT-list unnests, NOT a lateral `FROM b, UNNEST(range(...))`:
  -- the lateral copies the per-doc word list (and b's text) into every
  -- one of its len(wn) output rows — ~70 GB of pinned copies at sf10's
  -- 27.5M word positions, which no memory budget survives. The zipped
  -- form expands natively, one element per row.
  SELECT doc_id, MAX(cnt) AS max_run FROM (
    SELECT doc_id, word, grp, COUNT(*) AS cnt FROM (
      SELECT doc_id, word,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, word
                                      ORDER BY pos) AS grp
      FROM (
        SELECT doc_id, unnest(wn) AS word,
               unnest(range(1, len(wn)+1)) AS pos
        FROM (SELECT doc_id,
                     list_filter(string_split(text,' '), x -> x <> '') AS wn
              FROM documents)
      )
    ) GROUP BY 1, 2, 3
  ) GROUP BY 1
), dg AS (
  -- DSIR grams: non-distinct unigrams + bigrams over non-empty words
  SELECT doc_id, lang, unnest(list_concat(
           wn, list_transform(range(1, len(wn)), i -> wn[i] || ' ' || wn[i+1])
         )) AS gram
  FROM (SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS wn
        FROM documents)
), db AS (
  SELECT doc_id, lang, ('0x'||substr(md5(gram),1,8))::BIGINT % 256 AS bucket
  FROM dg
), dtc AS (SELECT bucket, COUNT(*) AS c FROM db WHERE lang = 'en' GROUP BY 1
), drc AS (SELECT bucket, COUNT(*) AS c FROM db GROUP BY 1
), dtot AS (
  SELECT (SELECT SUM(c) FROM dtc) + 0.5 * 256 AS tt,
         (SELECT SUM(c) FROM drc) + 0.5 * 256 AS rt
), drat AS (
  SELECT s.bucket,
         FLOOR((ln((COALESCE(t.c, 0) + 0.5) / tt)
             - ln((COALESCE(r.c, 0) + 0.5) / rt)) * 10000 + 0.5)/10000 AS lr
  FROM (SELECT unnest(range(0, 256)) AS bucket) s
  LEFT JOIN dtc t USING (bucket) LEFT JOIN drc r USING (bucket), dtot
), dw AS (
  SELECT d.doc_id, COALESCE(w.lw, 0.0) AS dsir_logw
  FROM documents d LEFT JOIN (
    -- exact scaled-long sum (mirrors dedup.scale4): double SUM order
    -- differs between engines and flips .5 rounding boundaries
    SELECT doc_id, SUM(CAST(ROUND(lr * 10000) AS BIGINT)) / 10000.0 AS lw
    FROM db JOIN drat USING (bucket) GROUP BY 1
  ) w USING (doc_id)
), dsel AS (
  SELECT doc_id FROM dw
  ORDER BY dsir_logw + (-ln(-ln(
             (('0x'||substr(md5('7:'||doc_id::VARCHAR),1,8))::BIGINT + 1)
             / 4294967297.0))) DESC, doc_id
  LIMIT 100
), cw AS (
  -- CCNet hashed-vocab bigram LM: words -> hash32 % 64 buckets
  SELECT doc_id, lang,
         list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                        x -> ('0x'||substr(md5(x),1,8))::BIGINT % 64) AS wb
  FROM documents
), cp AS (
  -- aligned-slice zip (see runs): bigrams as two equal-length slices
  -- unnested in the SELECT list, no per-row list copy
  SELECT doc_id, lang,
         unnest(wb[1:len(wb)-1]) AS b1,
         unnest(wb[2:len(wb)]) AS b2
  FROM cw
), cc AS (
  SELECT b1, b2, COUNT(*) AS c12 FROM cp WHERE lang = 'en' GROUP BY 1, 2
), clm AS (
  SELECT b1, b2,
         FLOOR(ln((c12 + 0.5) / (SUM(c12) OVER (PARTITION BY b1) + 0.5*64))
               * 10000 + 0.5)/10000 AS logp
  FROM cc
), cctx AS (
  SELECT b1, SUM(c12) AS c1 FROM cc GROUP BY 1
), csc AS (
  -- exact scaled-long sum + one quantized division of identical
  -- integers (mirrors ccnet.score_logppl): AVG over grid doubles is
  -- order-dependent in the last ulp
  SELECT cp.doc_id,
         FLOOR(-(SUM(CAST(ROUND(COALESCE(clm.logp,
                 FLOOR(ln(0.5 / (COALESCE(cctx.c1, 0) + 0.5*64))
                       * 10000 + 0.5)/10000) * 10000) AS BIGINT))::DOUBLE)
               / (COUNT(*) * 10000.0) * 10000 + 0.5)/10000 AS lp
  FROM cp LEFT JOIN clm USING (b1, b2) LEFT JOIN cctx USING (b1)
  GROUP BY 1
), cscored AS (
  SELECT d.doc_id, COALESCE(csc.lp, 0.0) AS ccnet_logppl
  FROM documents d LEFT JOIN csc USING (doc_id)
), ccut AS (
  -- histogram-exact tertile cutoffs over the rounded logppl grid —
  -- mirrors ccnet.ppl_cutoffs (ties-low, integer cum*3 >= tot)
  SELECT MIN(v) FILTER (WHERE cum * 3 >= tot) AS lo,
         MIN(v) FILTER (WHERE cum * 3 >= 2 * tot) AS hi
  FROM (SELECT v, SUM(cnt) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER () AS tot
        FROM (SELECT ccnet_logppl AS v, COUNT(*) AS cnt FROM cscored GROUP BY 1))
), cbuck AS (
  SELECT doc_id, ccnet_logppl,
         CASE WHEN ccnet_logppl <= lo THEN 'head'
              WHEN ccnet_logppl <= hi THEN 'middle'
              ELSE 'tail' END AS ccnet_bucket
  FROM cscored, ccut
), bpe_rec AS (
  -- BPE merge loop over the DISTINCT word table (the classic BPE
  -- optimization — the corpus vocabulary is tiny vs the corpus): each
  -- recursive step merges the lowest-rank adjacent pair, exactly the
  -- loop tokenize.bpe_encode runs per word
  SELECT word,
         list_transform(range(1, length(word)+1),
                        i -> substr(word, i::INT, 1)) AS toks
  FROM (SELECT DISTINCT unnest(wn) AS word FROM b)
  UNION ALL
  SELECT word,
         list_concat(list_concat(toks[1:bi-1], [toks[bi] || toks[bi+1]]),
                     toks[bi+2:])
  FROM (
    SELECT word, toks,
           list_position(rk, list_min(list_filter(rk, r -> r > 0))) AS bi
    FROM (
      SELECT word, toks,
             list_transform(range(1, len(toks)),
               i -> list_position({_BPE_MERGES_SQL},
                                  toks[i] || '|' || toks[i+1])) AS rk
      FROM bpe_rec WHERE len(toks) > 1
    )
    WHERE len(list_filter(rk, r -> r > 0)) > 0
  )
), bpe_ids AS (
  -- final state per word = the row with no applicable merge left;
  -- piece -> id via the fixed vocab (1-based list_position - 1)
  SELECT word,
         list_transform(toks,
           t -> nullif(list_position({_BPE_VOCAB_SQL}, t), 0) - 1) AS ids
  FROM bpe_rec
  WHERE len(toks) = 1
     OR len(list_filter(list_transform(range(1, len(toks)),
          i -> list_position({_BPE_MERGES_SQL}, toks[i] || '|' || toks[i+1])),
          r -> r > 0)) = 0
), bwords AS (
  -- zipped unnest (see runs): no lateral list copy
  SELECT doc_id, unnest(range(1, len(wn)+1)) AS pos, unnest(wn) AS word
  FROM b
), bdoc AS (
  SELECT w.doc_id, flatten(list(bi.ids ORDER BY w.pos)) AS ids
  FROM bwords w JOIN bpe_ids bi USING (word) GROUP BY w.doc_id
)
SELECT m.doc_id,
       CASE WHEN COALESCE(hits, 0) / greatest(n, 1) >= 0.02
            THEN 'en' ELSE 'und' END AS lang_guess,
       FLOOR(COALESCE(hits, 0) / greatest(n, 1) * 10000 + 0.5)/10000 AS en_ratio,
       FLOOR((0.4 * least(n / 100.0, 1.0) + 0.3 * (nd / greatest(n, 1))
             + 0.3 * least((COALESCE(hits, 0) / greatest(n, 1)) / 0.1, 1.0))
             * 10000 + 0.5)/10000
         AS quality,
       len(wn) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens,
       CASE WHEN len(wn) = 0 THEN NULL
            ELSE list_reduce(list_transform(wn, x -> ('0x'||substr(md5(x),1,8))::BIGINT),
                             (a, b) -> (a * 31 + b) % 2147483647) END AS fp,
       m.d2g_frac, CAST(COALESCE(r.max_run, 0) AS INT) AS max_run,
       m.sym_ratio, m.mean_wlen,
       (len(wn) >= 50 AND len(wn) <= 100000
        AND m.mean_wlen BETWEEN 3.0 AND 10.0
        AND m.sym_ratio <= 0.1
        AND m.d2g_frac >= 0.2
        AND COALESCE(r.max_run, 0) <= 6) AS gopher_keep,
       dw.dsir_logw,
       (sd.doc_id IS NOT NULL) AS dsir_selected,
       cb.ccnet_logppl, cb.ccnet_bucket,
       CAST(COALESCE(len(bd.ids), 0) AS INT) AS bpe_n_ids,
       md5(COALESCE(array_to_string(bd.ids, ','), '')) AS bpe_ids_md5,
       COALESCE(array_to_string(list_transform(bd.ids,
                  i -> list_extract({_BPE_VOCAB_SQL}, (i+1)::INT)), ''), '')
         = replace(m.text, ' ', '') AS bpe_roundtrip
FROM m LEFT JOIN runs r USING (doc_id)
JOIN dw USING (doc_id)
LEFT JOIN dsel sd USING (doc_id)
JOIN cbuck cb USING (doc_id)
LEFT JOIN bdoc bd USING (doc_id)
"""


def q_multimodal_suite(spark, sf_dir):
    from ..dataprep import multimodal

    media = multimodal.attach_payload(_documents(spark, sf_dir))
    decoded = multimodal.decode_image(media, fake=True)
    meta = media.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.md5("payload").alias("digest"),
    )
    return decoded.select("doc_id", "width", "height", "n_bytes").join(meta, "doc_id")


SQL_MULTIMODAL_SUITE = """
SELECT doc_id,
       ascii(substr(text, 1, 1)) + 1 AS width,
       CASE WHEN octet_length(encode(text)) > 1 THEN ascii(substr(text, 2, 1)) + 1
            ELSE 1 END AS height,
       octet_length(encode(text)) AS n_bytes,
       'application/octet-stream' AS mime, md5(text) AS digest
FROM documents
"""


# ---------------------------------------------------------------------------
# connector suites
# ---------------------------------------------------------------------------


def q_count_sum_connectors(spark, sf_dir):
    ev = _events(spark, sf_dir)
    cnt = connectors.count_connector(
        ev,
        conditions=[F.col("event_type") == "error", F.col("event_type") == "purchase"],
        group_by=["event_type"],
    ).select("event_type", F.col("value").cast("double").alias("value"), "metric_name")
    sm = connectors.sum_connector(ev, "value", group_by=["event_type"]).select(
        "event_type", F.round("value", 4).alias("value"), "metric_name"
    )
    return cnt.unionByName(sm)


SQL_COUNT_SUM_CONNECTORS = """
SELECT event_type, COUNT(*)::DOUBLE AS value, 'log.record.count' AS metric_name
FROM events WHERE event_type = 'error' OR event_type = 'purchase'
GROUP BY event_type
UNION ALL
SELECT event_type, ROUND(SUM(value), 4) AS value, 'log.record.sum' AS metric_name
FROM events GROUP BY event_type
"""


def q_routing_suite(spark, sf_dir):
    from ..sinks.fanout import sink_counts

    ev = _events(spark, sf_dir)
    routed = connectors.routing_connector(
        ev,
        [
            ("errors", F.col("event_type") == "error"),
            ("whales", F.col("value") > 180.0),
            ("purchases", F.col("event_type") == "purchase"),
        ],
    )
    r1 = sink_counts(routed).withColumn("connector", F.lit("routing"))
    rr = connectors.roundrobin_connector(ev, 3, "event_id")
    r2 = (
        rr.groupBy(F.col("route").alias("sink"))
        .agg(F.count(F.lit(1)).alias("records_out"))
        .withColumn("connector", F.lit("roundrobin"))
    )
    # Kafka-producer partition-key path under the oracle: the reference's
    # FNV-1a hash (probabilisticsamplerprocessor/fnvhasher.go, also the
    # kafkaexporter's key-hash partitioner shape) over the message key,
    # bucketed to a partition id. Bit parity is the point: the DuckDB
    # mirror recomputes FNV-1a 32 byte-for-byte via list_reduce over the
    # key's codepoints (ASCII-safe — keys here are decimal id strings).
    from ..functions import hashes

    r3 = (
        ev.groupBy(
            F.concat(
                F.lit("part_"),
                (hashes.fnv1a32(F.col("event_id").cast("string")) % 6).cast("string"),
            ).alias("sink")
        )
        .agg(F.count(F.lit(1)).alias("records_out"))
        .withColumn("connector", F.lit("kafka_fnv"))
    )
    return r1.unionByName(r2).unionByName(r3)


SQL_ROUTING_SUITE = """
SELECT CASE WHEN event_type = 'error' THEN 'errors'
            WHEN value > 180.0 THEN 'whales'
            WHEN event_type = 'purchase' THEN 'purchases'
            ELSE 'default' END AS sink,
       COUNT(*) AS records_out, 'routing' AS connector
FROM events GROUP BY 1
UNION ALL
SELECT 'pipeline_' || (event_id % 3)::VARCHAR AS sink, COUNT(*) AS records_out,
       'roundrobin' AS connector
FROM events GROUP BY 1
UNION ALL
SELECT 'part_' || (list_reduce(
         list_prepend(2166136261::BIGINT,
           list_transform(string_split(event_id::VARCHAR, ''), c -> unicode(c)::BIGINT)),
         (h, b) -> (xor(h, b) * 16777619) % 4294967296
       ) % 6)::VARCHAR AS sink,
       COUNT(*) AS records_out, 'kafka_fnv' AS connector
FROM events GROUP BY 1
"""


def q_formatter_suite(spark, sf_dir):
    from ..sinks.formatter import format_sum_rows

    ev = _events(spark, sf_dir).withColumn("ch_ts", clickhouse_ts(_us("ts") * F.lit(1000)))
    agg = ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 4).alias("value"),
        (F.max(_us("ts")) * 1000).alias("time_unix_nano"),
        F.min("ch_ts").alias("min_ch_ts"),
        F.max("ch_ts").alias("max_ch_ts"),
    )
    out = format_sum_rows(agg, dims=["event_type", "min_ch_ts", "max_ch_ts"])
    return out.select(
        "event_type", "min_ch_ts", "max_ch_ts", "TimeUnix",
        F.round("Value", 4).alias("Value"),
        "AggregationTemporality", "IsMonotonic",
    )


SQL_FORMATTER_SUITE = """
WITH per AS (
  SELECT event_type, value, ts,
         strftime(ts, '%Y-%m-%d %H:%M:%S') || '.' ||
           lpad((epoch_ns(ts) % 1000000000)::VARCHAR, 9, '0') AS ch_ts
  FROM events
)
SELECT event_type, MIN(ch_ts) AS min_ch_ts, MAX(ch_ts) AS max_ch_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') || '.' ||
         lpad((epoch_ns(MAX(ts)) % 1000000000)::VARCHAR, 9, '0') AS TimeUnix,
       ROUND(SUM(value), 4) AS Value, 2 AS AggregationTemporality, TRUE AS IsMonotonic
FROM per GROUP BY event_type
"""


def q_otlpjson_slowsql(spark, sf_dir):
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
    otlp = connectors.otlpjson_connector(ev).select(
        F.element_at("resource_attributes", "service.name").alias("service"),
        "scope_name", "time_unix_nano", "severity_number", "body",
    )
    slow_src = _events(spark, sf_dir).withColumn(
        "duration_ns", (F.col("value") * 1e6).cast("long")
    ).withColumn(
        "attributes",
        F.when(
            F.col("event_type") == "purchase",
            F.create_map(F.lit("db.system"), F.lit("postgres")),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    slow = connectors.slowsql_connector(slow_src, threshold_ns=100_000_000).select(
        (F.col("event_id") * F.lit(1000000)).alias("time_unix_nano"),
        "duration_ns",
    )
    return otlp.join(slow, "time_unix_nano", "left")


SQL_OTLPJSON_SLOWSQL = """
SELECT event_id * 1000000 AS time_unix_nano,
       'svc-' || (user_id % 5)::VARCHAR AS service, 'app' AS scope_name,
       (user_id % 24)::INT + 1 AS severity_number,
       'event ' || event_id::VARCHAR AS body,
       CASE WHEN event_type = 'purchase' AND floor(value * 1e6)::BIGINT > 100000000
            THEN floor(value * 1e6)::BIGINT END AS duration_ns
FROM events
"""


# Frozen isolation forest for the oracle-checked anomaly fold below:
# fitted ONCE by operators.anomaly.fit_isolation_forest on the sf0.01
# events table (features: value, length(props); num_trees=2,
# sample_size=32, seed=7) and pinned here as a literal — the same
# ship-the-model-with-the-config shape the reference's
# isolationforestprocessor uses for a warm-started window, and the only
# way the DuckDB oracle can replay the exact forest. Flags compare the
# RAW path-depth sum (exact literal arithmetic on both engines), not the
# pow()-derived score (libm last-ulp risk).
_IFOREST_TREES = [(0, 148.10906890032177, (0, 33.99395581118993, (0, 18.539056685836776, (1, 8.560257277012813, (None, 1), (0, 3.585799727724154, (None, 1), (None, 8))), (0, 28.01456988988864, (0, 25.811793561408052, (None, 1), (None, 2)), (0, 30.353721807815255, (None, 2), (None, 2)))), (1, 8.777228774980808, (None, 4), (0, 78.90412156647196, (0, 41.44799978977405, (None, 1), (None, 7)), (None, 2)))), (None, 1)), (1, 8.28459553209415, (0, 106.93353917036225, (0, 50.025695579174894, (None, 1), (0, 56.35721941058112, (None, 1), (None, 1))), (0, 111.87956836425327, (None, 1), (None, 1))), (0, 27.743578160929754, (0, 20.90380088211151, (None, 10), (0, 24.71809858876422, (None, 1), (None, 1))), (0, 50.10495834993684, (0, 30.486253643988256, (0, 30.321019729543885, (None, 1), (None, 1)), (0, 34.548360741199545, (None, 1), (None, 5))), (0, 127.29977026610365, (0, 68.74847521038751, (None, 4), (None, 2)), (None, 1)))))]
_IFOREST_DEPTH_FLAG = 7.0  # depth <= 7 isolates in <half the tree -> anomaly


def _frozen_forest():
    from ..operators.anomaly import IsolationForest

    return IsolationForest(_IFOREST_TREES, 32)


def q_connector_metrics(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("bucket", (F.col("user_id") % 10).cast("int"))
    sig = connectors.signaltometrics_connector(
        ev, dims=["event_type", "bucket"], value=F.col("value"), metric_type="sum"
    ).select(
        "metric_name",
        F.col("event_type").alias("dim1"),
        F.col("bucket").cast("string").alias("dim2"),
        F.round("value", 4).alias("value"),
    )
    exc_src = _events(spark, sf_dir).withColumn(
        "event_name",
        F.when(F.col("event_type") == "error", "exception").otherwise("other"),
    ).withColumn("service_name", F.format_string("svc-%d", F.col("user_id") % 5))
    exc = connectors.exceptions_connector(exc_src).select(
        F.lit("exceptions").alias("metric_name"),
        F.col("service_name").alias("dim1"),
        F.lit(None).cast("string").alias("dim2"),
        F.col("exception_count").cast("double").alias("value"),
    )
    # --- isolationforestprocessor under the oracle (round-5 ask #5):
    # score every event against the frozen forest via the compiled CASE
    # ladder (pure whole-stage-codegen Columns — the pandas-UDF scorer in
    # operators/anomaly.py is the big-forest path, parity-tested against
    # this ladder in tests/test_anomaly.py), flag on the exact depth sum,
    # aggregate flag counts + rounded score mass per event_type.
    from ..operators.anomaly import forest_depth_column, forest_score_column

    forest = _frozen_forest()
    feats = [F.col("value"), F.length("props").cast("double")]
    scored = _events(spark, sf_dir).select(
        "event_type",
        forest_depth_column(forest, feats).alias("__depth"),
        F.round(forest_score_column(forest, feats), 6).alias("__score"),
    )
    anom = scored.groupBy("event_type").agg(
        F.sum(F.when(F.col("__depth") <= _IFOREST_DEPTH_FLAG, 1).otherwise(0))
        .cast("double")
        .alias("flags"),
        F.round(F.sum("__score"), 4).alias("score_mass"),
    )
    anom_rows = anom.select(
        F.lit("anomaly.iforest.flags").alias("metric_name"),
        F.col("event_type").alias("dim1"),
        F.lit(None).cast("string").alias("dim2"),
        F.col("flags").alias("value"),
    ).unionByName(
        anom.select(
            F.lit("anomaly.iforest.score").alias("metric_name"),
            F.col("event_type").alias("dim1"),
            F.lit(None).cast("string").alias("dim2"),
            F.col("score_mass").alias("value"),
        )
    )
    return sig.unionByName(exc).unionByName(anom_rows)


def _sql_connector_metrics() -> str:
    from ..operators.anomaly import forest_depth_sql, forest_score_sql

    forest = _frozen_forest()
    exprs = ["value", "LENGTH(props)::DOUBLE"]
    depth = forest_depth_sql(forest, exprs)
    score = forest_score_sql(forest, exprs)
    return f"""
SELECT 'signal.metric' AS metric_name, event_type AS dim1,
       (user_id % 10)::VARCHAR AS dim2, ROUND(SUM(value), 4) AS value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'exceptions' AS metric_name, 'svc-' || (user_id % 5)::VARCHAR AS dim1,
       NULL AS dim2, COUNT(*)::DOUBLE AS value
FROM events WHERE event_type = 'error' GROUP BY 2
UNION ALL
SELECT 'anomaly.iforest.flags', event_type, NULL,
       (COUNT(*) FILTER (WHERE {depth} <= {_IFOREST_DEPTH_FLAG!r}))::DOUBLE
FROM events GROUP BY 2
UNION ALL
SELECT 'anomaly.iforest.score', event_type, NULL,
       ROUND(SUM(ROUND({score}, 6)), 4)
FROM events GROUP BY 2
"""


SQL_CONNECTOR_METRICS = _sql_connector_metrics()


def q_ottl_field_ops(spark, sf_dir):
    ev = _events(spark, sf_dir)
    m = F.create_map(
        F.lit("k1"), F.col("event_type"),
        F.lit("k2"), F.col("user_id").cast("string"),
        F.lit("tmp.x"), F.lit("drop-me"),
        F.lit("longval"), F.lit("0123456789abcdef"),
        F.lit("old.key"), F.col("event_id").cast("string"),
    )
    m = ottl.set_key(m, "k3", F.lit("added"))
    m = ottl.delete_matching_keys(m, r"^tmp\.")
    m = ottl.truncate_all(m, 10)
    m = ottl.merge_maps(m, F.create_map(F.lit("k2"), F.lit("override")), "upsert")
    ev = ev.withColumn("m", m)
    # schemaprocessor rename over the same map
    ev = processors.schema_processor(ev, {"old.key": "new.key"}, target="m")
    # Statement-grammar path under the oracle: the same surface a
    # transformprocessor YAML statement takes (pkg/ottl/parser.go:347-361)
    # — parsed from the STRING below, compiled to Catalyst, applied to the
    # live map column. Exercises editor set(), nested converters
    # (Concat/ToUpperCase), a map-key path target, and a row-varying
    # `where` condition, all driver-verified against the SQL mirror.
    from ..functions.ottl_parser import apply_statements

    ev = ev.withColumnRenamed("m", "attributes")
    ev = apply_statements(
        ev,
        [
            'set(attributes["env"], Concat([ToUpperCase(attributes["k1"]), "x"], "-"))'
            " where value > 100.0",
        ],
    )
    return ev.select(
        "event_id",
        ottl.to_key_value_string(ottl.delete_matching_keys(F.col("attributes"), "^env$")).alias("kv"),
        F.element_at("attributes", "k2").alias("k2"),
        F.size(ottl.keep_keys(F.col("attributes"), ["k1", "k3"])).alias("kept"),
        F.element_at("attributes", "new.key").cast("long").alias("renamed"),
        F.element_at("attributes", "old.key").alias("old_gone"),
        F.element_at("attributes", "env").alias("stmt_env"),
    )


SQL_OTTL_FIELD_OPS = """
SELECT event_id,
       'k1=' || event_type || ' k2=override k3=added longval=0123456789 new.key=' || event_id::VARCHAR AS kv,
       'override' AS k2, 2 AS kept, event_id AS renamed, NULL AS old_gone,
       CASE WHEN value > 100.0 THEN upper(event_type) || '-x' END AS stmt_env
FROM events
"""


# ---------------------------------------------------------------------------
# round-2 additions
# ---------------------------------------------------------------------------


def q_tailsampling_policies(spark, sf_dir):
    """Full policy DSL: OR'd aggregate policies + probabilistic + drop veto
    + rate_limiting budget (tailsamplingprocessor/internal/sampling/)."""
    ev = _events(spark, sf_dir).withColumn("ts_s", _us("ts") / F.lit(1e6))
    P = processors.TailPolicy
    kept = processors.tail_sampling_policies(
        ev,
        [
            P("high_value", "agg", cond=F.max("value") > 195.0),
            P("span_count", "agg", cond=F.count(F.lit(1)) >= 600),
            P("and_mid", "and", subpolicies=[
                P("v", "agg", cond=F.max("value") > 190.0),
                P("n", "agg", cond=F.count(F.lit(1)) >= 150),
            ]),
            P("drop_tiny", "drop", subpolicies=[
                P("t", "agg", cond=F.max("value") < 199.0),
                P("t2", "agg", cond=F.count(F.lit(1)) < 650),
            ]),
        ],
        trace_col="user_id",
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("kept"))


SQL_TAILSAMPLING_POLICIES = """
WITH per AS (
  SELECT user_id, MAX(value) AS mx, COUNT(*) AS cnt FROM events GROUP BY user_id
), dec AS (
  SELECT user_id FROM per
  WHERE (mx > 195.0 OR cnt >= 600 OR (mx > 190.0 AND cnt >= 150))
    AND NOT (mx < 199.0 AND cnt < 650)
)
SELECT event_type, COUNT(*) AS kept FROM events
WHERE user_id IN (SELECT user_id FROM dec)
GROUP BY event_type
"""


def q_metricstransform_full(spark, sf_dir):
    """rename (regexp submatch) + insert-with-scale + aggregate_labels +
    aggregate_label_values (metricstransformprocessor/config.go:160-211)."""
    ev = _events(spark, sf_dir)
    base = ev.groupBy(
        F.concat(F.lit("sys."), F.col("event_type")).alias("metric"),
        (F.col("user_id") % 5).cast("string").alias("bucket"),
        F.format_string("h-%d", F.col("user_id") % 3).alias("host"),
    ).agg(F.sum("value").alias("value"))
    base = base.withColumn(
        "labels", F.create_map(F.lit("bucket"), F.col("bucket"), F.lit("host"), F.col("host"))
    ).select("metric", "labels", "value")
    out = processors.metricstransform_processor(
        base,
        [
            {"include": r"sys\.(.*)", "match_type": "regexp", "action": "update",
             "new_name": "system.$1"},
            {"include": "system.purchase", "action": "insert", "new_name": "system.purchase.k",
             "operations": [{"action": "experimental_scale_value", "experimental_scale": 0.001}]},
            {"include": "system.view", "action": "update",
             "operations": [{"action": "aggregate_labels", "label_set": ["host"],
                             "aggregation_type": "sum"}]},
            {"include": "system.error", "action": "update",
             "operations": [{"action": "aggregate_label_values", "label": "bucket",
                             "aggregated_values": ["0", "1"], "new_value": "low",
                             "aggregation_type": "sum"}]},
        ],
    )
    mt = out.select(
        "metric",
        ottl.to_key_value_string(F.col("labels")).alias("labels_kv"),
        F.round("value", 4).alias("value"),
    )
    # --- transformprocessor metric-context funcs (operators/metric_funcs.py)
    # over the same scan: copy_metric -> extract_count_metric ->
    # convert_gauge_to_sum, output tagged with the resulting type metadata
    from ..operators import metric_funcs

    mf = (
        ev.groupBy(F.concat(F.lit("rt."), F.col("event_type")).alias("metric"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("count"),
            F.sum("value").alias("sum"),
        )
        .withColumn("metric_type", F.lit("gauge"))
        .withColumn("value", F.col("sum") / F.col("count"))
    )
    mf = metric_funcs.copy_metric(mf, "rt.error", "rt.error.copy")
    mf = metric_funcs.extract_count_metric(mf)
    mf = metric_funcs.convert_gauge_to_sum(
        mf, aggregation_temporality="cumulative", is_monotonic=False
    )
    mfo = mf.select(
        "metric",
        F.concat(
            F.lit("type="), F.col("metric_type"),
            F.lit(" mono="), F.coalesce(F.col("is_monotonic").cast("string"), F.lit("-")),
            F.lit(" temp="), F.coalesce(F.col("aggregation_temporality"), F.lit("-")),
        ).alias("labels_kv"),
        F.round("value", 4).alias("value"),
    )
    # --- convert_exponential_hist_to_explicit_hist over synthetic
    # exponential buckets (deterministic arithmetic index, scale=2)
    eh = ev.groupBy(
        "event_type",
        ((F.col("event_id") % 41) - 5).cast("int").alias("bucket_index"),
    ).agg(F.count(F.lit(1)).alias("bucket_count"))
    hist = processors.exponential_to_explicit_histogram(
        eh, [1.0, 10.0, 100.0, 1000.0], dims=["event_type"], scale=2,
        zero_count_col=None,
    )
    histo = hist.select(
        F.concat(F.lit("hist."), F.col("event_type")).alias("metric"),
        F.concat(F.lit("counts="), F.concat_ws(",", "bucket_counts")).alias("labels_kv"),
        F.expr(
            "CAST(aggregate(bucket_counts, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            " AS DOUBLE)"
        ).alias("value"),
    )
    return mt.unionByName(mfo).unionByName(histo)


def _exp_hist_case_sql(bounds: list[float], scale: int) -> str:
    """DuckDB mirror of exponential_to_explicit_histogram's bucket-target
    CASE ladder — the WHEN order replicates the Spark expression exactly
    (overflow, exact-fit per bound, then the upper<=bound ladder)."""
    import math

    f = math.log(2.0) * (2.0 ** -scale)
    lower = f"exp(bi * {f!r})"
    upper = f"exp((bi + 1) * {f!r})"
    last = len(bounds) - 1
    whens = [f"WHEN {lower} > {bounds[-1]!r} THEN {last}"]
    for b in range(1, len(bounds)):
        whens.append(
            f"WHEN {lower} > {bounds[b - 1]!r} AND {upper} <= {bounds[b]!r} "
            f"THEN {b - 1}"
        )
    for j, bound in enumerate(bounds):
        whens.append(f"WHEN {upper} <= {bound!r} THEN {j}")
    return "CASE " + " ".join(whens) + f" ELSE {last} END"


SQL_METRICSTRANSFORM_FULL = """
WITH base AS (
  SELECT 'system.' || event_type AS metric,
         (user_id % 5)::VARCHAR AS bucket,
         'h-' || (user_id % 3)::VARCHAR AS host,
         SUM(value) AS value
  FROM events GROUP BY 1, 2, 3
),
scaled AS (  -- insert copy of system.purchase with value/1000
  SELECT 'system.purchase.k' AS metric, bucket, host, value * 0.001 AS value
  FROM base WHERE metric = 'system.purchase'
),
agg_view AS (  -- aggregate_labels to [host]
  SELECT metric, NULL AS bucket, host, SUM(value) AS value
  FROM base WHERE metric = 'system.view' GROUP BY 1, 3
),
agg_err AS (  -- aggregate_label_values bucket 0,1 -> low
  SELECT metric,
         CASE WHEN bucket IN ('0','1') THEN 'low' ELSE bucket END AS bucket,
         host, SUM(value) AS value
  FROM base WHERE metric = 'system.error' GROUP BY 1, 2, 3
),
rest AS (
  SELECT metric, bucket, host, value FROM base
  WHERE metric NOT IN ('system.view', 'system.error')
),
unioned AS (
  SELECT * FROM scaled UNION ALL SELECT * FROM agg_view
  UNION ALL SELECT * FROM agg_err UNION ALL SELECT * FROM rest
)
SELECT metric,
       CASE WHEN bucket IS NULL THEN 'host=' || host
            ELSE 'bucket=' || bucket || ' host=' || host END AS labels_kv,
       ROUND(value, 4) AS value
FROM unioned
""" + f"""
UNION ALL
-- metric-context funcs: copy_metric -> extract_count_metric -> gauge_to_sum
SELECT metric, labels_kv, value FROM (
  WITH mfbase AS (
    SELECT 'rt.' || event_type AS metric,
           COUNT(*)::DOUBLE AS cnt, SUM(value) AS sm
    FROM events GROUP BY 1
  ),
  mfall AS (
    SELECT metric, cnt, sm FROM mfbase
    UNION ALL
    SELECT 'rt.error.copy', cnt, sm FROM mfbase WHERE metric = 'rt.error'
  )
  SELECT metric, 'type=sum mono=false temp=cumulative' AS labels_kv,
         ROUND(sm / cnt, 4) AS value
  FROM mfall
  UNION ALL
  SELECT metric || '_count', 'type=sum mono=true temp=-', ROUND(cnt, 4)
  FROM mfall
)
UNION ALL
-- convert_exponential_hist_to_explicit_hist (scale=2, bounds 1/10/100/1000)
SELECT metric, labels_kv, value FROM (
  WITH ehidx AS (
    SELECT event_type, ((event_id % 41) - 5)::INT AS bi, COUNT(*) AS bc
    FROM events GROUP BY 1, 2
  ),
  ehmap AS (
    SELECT event_type, bc,
           {_exp_hist_case_sql([1.0, 10.0, 100.0, 1000.0], 2)} AS tgt
    FROM ehidx
  ),
  ehagg AS (
    SELECT event_type,
           SUM(CASE WHEN tgt = 0 THEN bc ELSE 0 END) AS b0,
           SUM(CASE WHEN tgt = 1 THEN bc ELSE 0 END) AS b1,
           SUM(CASE WHEN tgt = 2 THEN bc ELSE 0 END) AS b2,
           SUM(CASE WHEN tgt = 3 THEN bc ELSE 0 END) AS b3,
           SUM(bc) AS total
    FROM ehmap GROUP BY 1
  )
  SELECT 'hist.' || event_type AS metric,
         'counts=' || b0 || ',' || b1 || ',' || b2 || ',' || b3 AS labels_kv,
         total::DOUBLE AS value
  FROM ehagg
)
"""


def q_span_processor(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "span_name",
        F.when(
            F.col("event_type") == "purchase",
            F.format_string("/api/v1/document/%d/update", F.col("event_id")),
        ).otherwise(F.concat(F.lit("op-"), F.col("event_type"))),
    ).withColumn(
        "attributes",
        F.when(
            F.col("event_type") == "error",
            F.create_map(
                F.lit("db.svc"), F.format_string("svc-%d", F.col("user_id") % 5),
                F.lit("operation"), F.lit("rollback"),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    out = processors.span_processor(
        ev,
        from_attributes=["db.svc", "operation"],
        separator="::",
        to_attributes_rules=[r"^/api/v1/document/(?P<documentId>.*)/update$"],
    )
    return out.select(
        "event_id", "span_name",
        F.element_at("attributes", "documentId").cast("long").alias("doc_id"),
    )


SQL_SPAN_PROCESSOR = """
SELECT event_id,
       CASE WHEN event_type = 'purchase' THEN '/api/v1/document/{documentId}/update'
            WHEN event_type = 'error' THEN 'svc-' || (user_id % 5)::VARCHAR || '::rollback'
            ELSE 'op-' || event_type END AS span_name,
       CASE WHEN event_type = 'purchase' THEN event_id END AS doc_id
FROM events
"""


def q_ottl_xml_suite(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "xml",
        F.format_string(
            '<Log id="%d"><Message>msg %d</Message><Level>%s</Level></Log>',
            F.col("event_id"), F.col("event_id"), F.col("event_type"),
        ),
    )
    return ev.select(
        "event_id",
        xmlfuncs.get_xml(F.col("xml"), "/Log/Message").alias("got"),
        xmlfuncs.remove_xml(F.col("xml"), "/Log/Level").alias("removed"),
        xmlfuncs.insert_xml(F.col("xml"), "/Log", F.lit("<New>x</New>")).alias("inserted"),
        F.element_at(
            xmlfuncs.parse_simplified_xml(F.col("xml")), "Log.Message"
        ).alias("parsed_msg"),
        xmlfuncs.get_xml(
            xmlfuncs.convert_attributes_to_elements_xml(F.col("xml")), "/Log/id"
        ).alias("id_elem"),
    )


SQL_OTTL_XML_SUITE = """
SELECT event_id,
       '<Message>msg ' || event_id::VARCHAR || '</Message>' AS got,
       '<Log id="' || event_id::VARCHAR || '"><Message>msg ' || event_id::VARCHAR
         || '</Message></Log>' AS removed,
       '<Log id="' || event_id::VARCHAR || '"><Message>msg ' || event_id::VARCHAR
         || '</Message><Level>' || event_type || '</Level><New>x</New></Log>' AS inserted,
       'msg ' || event_id::VARCHAR AS parsed_msg,
       '<id>' || event_id::VARCHAR || '</id>' AS id_elem
FROM events
"""


def q_ottl_converters_misc(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "ua",
        F.when(
            F.col("user_id") % 3 == 0,
            F.lit("Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/120.0.0.0 Safari/537.36"),
        ).when(F.col("user_id") % 3 == 1, F.lit("curl/8.4.0"))
        .otherwise(F.lit("weird-agent/1.0")),
    ).withColumn(
        "card", F.when(F.col("event_id") % 2 == 0, "79927398713").otherwise("79927398710")
    )
    ua = ottl.user_agent(F.col("ua"))
    u7 = ottl.uuid_v7(
        _us("ts") / F.lit(1000), F.col("event_id").cast("string")
    )
    # OTTL profile context (ctxprofile/profile.go:22-72): recast the
    # events as flat pprofile rows (keep= passes the derived columns
    # through — narrow plan, no re-join) and read them back through the
    # path accessors next to the converter columns
    from ..operators import profiles as prof

    d = prof.EVENTS_DICT
    p = prof.events_as_profiles(ev, keep=("ua", "card", "event_type", "ts"))
    return p.select(
        "event_id",
        F.element_at(ua, "user_agent.name").alias("ua_name"),
        F.element_at(ua, "user_agent.version").alias("ua_version"),
        F.element_at(ua, "os.name").alias("os_name"),
        ottl.is_valid_luhn(F.col("card")).alias("luhn_ok"),
        F.substring(u7, 15, 1).alias("uuid_ver"),
        F.substring(u7, 20, 1).rlike("[89ab]").alias("uuid_variant_ok"),
        F.length(u7).alias("uuid_len"),
        ottl.decode_(F.base64(F.col("event_type").cast("binary")), "base64").alias("decoded"),
        prof.profile_path("profile_id.string", d).alias("prof_id_hex"),
        prof.profile_path("sample_type.type", d).alias("prof_type"),
        prof.profile_path("sample_type.unit", d).alias("prof_unit"),
        prof.profile_path("attributes[host.name]", d).alias("prof_host"),
        prof.profile_path("period", d).alias("prof_period"),
        prof.sample_total().alias("prof_sample_total"),
    )


SQL_OTTL_CONVERTERS_MISC = """
SELECT event_id,
       CASE user_id % 3 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'curl' ELSE 'Other' END AS ua_name,
       CASE user_id % 3 WHEN 0 THEN '120.0.0' WHEN 1 THEN '8.4.0' ELSE '' END AS ua_version,
       CASE user_id % 3 WHEN 0 THEN 'Windows' ELSE 'Other' END AS os_name,
       event_id % 2 = 0 AS luhn_ok,
       '7' AS uuid_ver, TRUE AS uuid_variant_ok, 36 AS uuid_len,
       event_type AS decoded,
       md5('prof-' || CAST(event_id AS VARCHAR)) AS prof_id_hex,
       CASE WHEN event_id % 2 = 0 THEN 'cpu' ELSE 'alloc_space' END AS prof_type,
       CASE WHEN event_id % 2 = 0 THEN 'nanoseconds' ELSE 'bytes' END AS prof_unit,
       'host-' || CAST(user_id % 3 AS VARCHAR) AS prof_host,
       CAST(10000000 + (event_id % 3) * 1000000 AS BIGINT) AS prof_period,
       CAST(FLOOR(value * 100) + 1 + FLOOR(FLOOR(value * 100) / 2) AS BIGINT)
         AS prof_sample_total
FROM events
"""


def q_text_decontamination(spark, sf_dir):
    """LLM-data hygiene: benchmark n-gram decontamination (broadcast
    benchmark gram set, map-side join — the GPT-3/Llama data-card method)
    + PII scrubbing (email/IPv4 regexp counts + scrubbed-text digest),
    one row per corpus doc."""
    from ..dataprep import decontaminate

    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    cont = decontaminate.ngram_contamination(corpus, bench, n=8)
    scrubbed = decontaminate.pii_scrub(corpus, kinds=["email", "ipv4"])
    return scrubbed.join(cont, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) >= 1).alias("contaminated"),
        "pii_email_count",
        "pii_ipv4_count",
        F.md5("text_scrubbed").alias("fp_scrubbed"),
    )


_EMAIL_RX = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_IPV4_RX = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b"
)

SQL_TEXT_DECONTAMINATION = f"""
WITH bench AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
           range(1, greatest(len(w)-7,1)+1),
           i -> array_to_string(w[i:i+7], ' ')))) AS gram
  FROM (SELECT string_split(text,' ') AS w FROM documents WHERE doc_id < 20)
),
corpus AS (
  SELECT doc_id, text, string_split(text,' ') AS w FROM documents WHERE doc_id >= 20
),
doc_grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(w)-7,1)+1),
           i -> array_to_string(w[i:i+7], ' ')))) AS gram
  FROM corpus
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hits FROM doc_grams JOIN bench USING (gram) GROUP BY 1
)
SELECT c.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) >= 1 AS contaminated,
       length(regexp_extract_all(c.text, '{_EMAIL_RX}')) AS pii_email_count,
       length(regexp_extract_all(regexp_replace(c.text, '{_EMAIL_RX}', '<email>', 'g'),
              '{_IPV4_RX}')) AS pii_ipv4_count,
       md5(regexp_replace(regexp_replace(c.text, '{_EMAIL_RX}', '<email>', 'g'),
           '{_IPV4_RX}', '<ipv4>', 'g')) AS fp_scrubbed
FROM corpus c LEFT JOIN hits h USING (doc_id)
"""


def q_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing over a deterministically
    tokenized document corpus (the training-batch assembly step for the
    north rule's pre-tokenized sequence table), then the Lee-et-al.
    token-span duplication measure computed OVER the packed sequences
    (corpus-wide 16-token window counts -> per-sequence duplicated
    fraction). The token array is projected as md5(concat_ws(',', .)) —
    the driver canonicalizer cannot sort list cells — and the raw-array
    conservation/order invariants stay in tests/test_dataprep.py."""
    from ..dataprep import packing
    from ..dataprep.dedup import hash32

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: hash32(w) % 50257
        ).alias("tokens"),
    )
    packed = (
        packing.pack_sequences(docs, max_len=64, num_shards=4)
        .withColumn("pid", F.col("shard") * F.lit(1_000_000) + F.col("seq_index"))
        # the packed frame feeds three subtrees (span explode, the
        # all-docs left side, and the output join); without the
        # checkpoint the tokenize+pack shuffle would run three times
        .localCheckpoint()
    )
    dup = packing.token_span_duplication(packed, span_len=16, id_col="pid")
    # ExactSubstr REMOVAL (Lee et al. 2022): cut every duplicated
    # 16-token window occurrence except the corpus-first one
    clean = packing.exact_substring_removal(packed, span_len=16, id_col="pid").select(
        "pid",
        F.md5(F.concat_ws(",", F.col("tokens"))).alias("clean_md5"),
        F.col("n_removed"),
    )
    # data-loader stages over the packed rows: deterministic corpus
    # shuffle-and-shard (no global sort, one hash-window shuffle) +
    # pow-2 length-bucketed batch assembly (padding-efficient batching)
    shuf = packing.shuffle_sequences(
        packed.select("pid"), id_col="pid", num_shards=8, seed="sh1"
    )
    lb = packing.length_buckets(
        packed.select("pid", "n_tok"),
        id_col="pid",
        len_col="n_tok",
        max_batch_tokens=256,
        seed="sh1",
    ).select("pid", "bucket", "batch_id", "batch_pos")
    return (
        packed.join(dup.select("pid", "dup_spans", "span_fraction"), "pid")
        .join(clean, "pid")
        .join(shuf, "pid")
        .join(lb, "pid")
        .select(
            "shard",
            "seq_index",
            F.md5(F.concat_ws(",", F.col("tokens"))).alias("tokens_md5"),
            "n_tok",
            "dup_spans",
            "span_fraction",
            "clean_md5",
            "n_removed",
            "shuffle_shard",
            "shuffle_pos",
            "bucket",
            "batch_id",
            "batch_pos",
        )
    )


SQL_SEQUENCE_PACKING = """
WITH
-- linear chunking: global token position via cumulative doc offsets, then
-- GROUP BY pos // 64. The naive mirror (flatten the whole shard stream,
-- then slice it once per chunk from an UNNEST lateral) is quadratic in
-- stream length — DuckDB carries a copy of the multi-hundred-k-element
-- list into every unnested row, which thrashed the sf1 run at ~10^5 docs.
-- Same trap one level down: a LATERAL `FROM docoff, UNNEST(range(...))`
-- copies the per-doc list into every one of its len(t) output rows
-- (~90 GB of untracked copies at sf10's 75M tokens — bad_alloc before
-- any operator could spill). Zipped SELECT-list unnests of two aligned
-- lists expand natively, one element per row, no per-row list copy.
docoff AS (
  -- slim window: DuckDB 1.0's window operator materializes every input
  -- column per partition, and LIST payloads through it (or through a
  -- hash-join build side) both over-allocate badly at sf10; so the
  -- running sum carries only scalars (text stays one VARCHAR) and the
  -- tokenization happens AFTER the window. ~20% faster at sf10 too.
  SELECT doc_id, shard, text,
         SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n AS off
  FROM (SELECT doc_id, doc_id % 4 AS shard, text,
               len(string_split(text,' ')) AS n FROM documents)
),
tok AS (
  SELECT shard, off,
         list_transform(string_split(text,' '),
                        w -> ('0x'||substr(md5(w),1,8))::BIGINT % 50257) AS t
  FROM docoff
),
flat AS (
  SELECT shard, off + unnest(range(1, len(t) + 1)) - 1 AS gpos,
         unnest(t) AS tk
  FROM tok
),
c2 AS MATERIALIZED (
  SELECT shard, CAST(gpos // 64 AS INT) AS seq_index,
         list(tk ORDER BY gpos) AS tokens,
         COUNT(*) AS n_tok
  FROM flat GROUP BY 1, 2
),
-- w is only ever an equality key (GROUP BY / JOIN / PARTITION BY below,
-- never output), so store hash(window-string) instead of the string
-- itself: the materialized wins set is ~n_tokens rows, and at sf10
-- (~75M windows) the comma-joined VARCHAR variant exhausted the host's
-- allocator where the 8-byte key sails through
wins AS MATERIALIZED (
  SELECT shard, seq_index,
         unnest(range(1, len(tokens)-16+2)) AS pos,
         unnest(list_transform(range(1, len(tokens)-16+2),
                i -> hash(array_to_string(tokens[i:i+15], ',')))) AS w
  FROM c2
  WHERE len(tokens) >= 16
),
wc AS (SELECT w, COUNT(*) AS c FROM wins GROUP BY 1),
dup AS (
  SELECT shard, seq_index, COUNT(*) AS dup_spans
  FROM wins JOIN wc USING (w) WHERE c >= 2 GROUP BY 1, 2
),
occ AS (
  SELECT shard, seq_index, pos,
         COUNT(*) OVER (PARTITION BY w) AS c,
         ROW_NUMBER() OVER (PARTITION BY w
                            ORDER BY shard*1000000+seq_index, pos) AS rn
  FROM wins
),
rem AS (
  SELECT shard, seq_index, list_sort(list(pos)) AS starts
  FROM occ WHERE c >= 2 AND rn > 1 GROUP BY 1, 2
),
clean AS (
  SELECT c2.shard, c2.seq_index,
         CASE WHEN r.starts IS NULL THEN c2.tokens
              ELSE list_filter(c2.tokens, (x, i) ->
                     len(list_filter(r.starts,
                         s -> i >= s AND i < s + 16)) = 0)
         END AS ct
  FROM c2 LEFT JOIN rem r USING (shard, seq_index)
),
keyed AS MATERIALIZED (
  -- 60-bit order key (15 hex chars); shard = its top 32 bits mod 8,
  -- which equals hash32 mod 8 (the first 8 hex chars of the same md5) —
  -- mirrors packing.shuffle_sequences/length_buckets hash60 ordering
  SELECT shard, seq_index, n_tok,
         shard * 1000000 + seq_index AS pid,
         ('0x' || substr(md5('sh1' || CAST(shard * 1000000 + seq_index
                                           AS VARCHAR)), 1, 15))::BIGINT AS k
  FROM c2
),
shuf AS (
  SELECT pid,
         CAST((k >> 28) % 8 AS INT) AS shuffle_shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY (k >> 28) % 8 ORDER BY k, pid) - 1
              AS INT) AS shuffle_pos
  FROM keyed
),
lb0 AS (
  SELECT pid, k, len(bin(greatest(n_tok - 1, 1))) AS b FROM keyed
),
lb AS (
  SELECT pid,
         CAST(b AS INT) AS bucket,
         CAST(rn // bs AS INT) AS batch_id,
         CAST(rn % bs AS INT) AS batch_pos
  FROM (
    SELECT pid, b,
           ROW_NUMBER() OVER (PARTITION BY b ORDER BY k, pid) - 1 AS rn,
           greatest(1::BIGINT, CAST(floor(256 / (2 ** b)) AS BIGINT)) AS bs
    FROM lb0
  )
)
SELECT c2.shard, c2.seq_index,
       md5(array_to_string(c2.tokens, ',')) AS tokens_md5,
       c2.n_tok,
       CAST(COALESCE(d.dup_spans, 0) AS BIGINT) AS dup_spans,
       ROUND(COALESCE(d.dup_spans, 0) / greatest(c2.n_tok - 15, 1), 4)
         AS span_fraction,
       -- array_to_string([]) is NULL in DuckDB but concat_ws on an empty
       -- array is '' in Spark: coalesce so a fully-removed sequence
       -- hashes identically on both engines
       md5(COALESCE(array_to_string(cl.ct, ','), '')) AS clean_md5,
       CAST(c2.n_tok - len(cl.ct) AS INT) AS n_removed,
       s.shuffle_shard, s.shuffle_pos, l.bucket, l.batch_id, l.batch_pos
FROM c2 LEFT JOIN dup d USING (shard, seq_index)
JOIN clean cl USING (shard, seq_index)
JOIN keyed ky USING (shard, seq_index)
JOIN shuf s ON s.pid = ky.pid
JOIN lb l ON l.pid = ky.pid
"""


# groupbytrace_stream wait inside the streaming suite: longer than the
# events table's 30-day span, so every key buffers its whole history and
# releases exactly ONCE — making the release set SQL-expressible (the
# multi-release case, where spans after a release start a fresh wait, is
# event-order-dependent and lives in tests/test_stateful_streaming.py)
_GBT_WAIT_MS = 60 * 86400 * 1000


def q_streaming_windowed_counts(spark, sf_dir):
    """Structured Streaming surface under the driver gate, two stateful
    shapes over the events table united into one oracle-checked result:

    kind='window'  — bounded file-source stream -> watermarked tumbling
                     3600s window counts per event_type (complete mode),
                     the same windowed_counts transformation the
                     streaming pipeline uses (streaming/stream.py).
    kind='release' — groupbytrace_stream (streaming/stateful.py:
                     applyInPandasWithState buffer-by-key + event-time
                     timer): every user_id's events buffer until the
                     wait expires, then release as one complete group.
                     A far-future sentinel row drives the watermark past
                     every timer; the sentinel itself stays buffered and
                     must not appear (that's part of the check — its key
                     would be an extra row).
    kind='d2c'     — stateful_delta_to_cumulative (foreachBatch + the
                     versioned state table): per-user running sums; the
                     oracle checks each stream's FINAL cumulative (the
                     cumulative at the stream's last (ts, value) row ==
                     the stream's total, whatever the micro-batch split),
                     in integer cents (values are 2-decimal doubles).
    kind='tailsample' — tailsampling_stream: complete released traces
                     evaluated against the aggregate policy DSL; a trace
                     is kept iff its complete-group aggregates clear the
                     OR'd policies and survive the drop veto — exactly
                     SQL-expressible because released groups are complete.

    Columns: (kind, k, t, value). window rows: t = window start epoch
    SECONDS, value = count. release rows: t = release timestamp epoch MS
    (first event + wait), value = spans in the released group. d2c rows:
    t = last event epoch MS, value = total in cents. tailsample rows:
    t = release epoch MS, value = spans kept."""
    import os
    import tempfile

    from ..streaming.stateful import groupbytrace_stream, tailsampling_stream
    from ..streaming.stream import stateful_delta_to_cumulative, windowed_counts

    # events.parquet is a single file; the file stream source needs a
    # directory, so stream the parent dir with a glob filter
    schema = _events(spark, sf_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = windowed_counts(src, "ts", ["event_type"], interval="3600 seconds")
    name = f"stream_counts_{os.getpid()}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )

    # --- groupbytrace over the same events + a watermark-driving sentinel
    gbt_dir = tempfile.mkdtemp(prefix="gbt_stream_src_")
    events = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.coalesce(1).write.mode("overwrite").parquet(gbt_dir)
    spark.createDataFrame(
        [(int(-1), "2099-01-01 00:00:00", int(-1), "__sentinel", 0.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value",
    ).coalesce(1).write.mode("append").parquet(gbt_dir)

    _gbt_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    gbt_src = spark.readStream.schema(_gbt_schema).parquet(gbt_dir)
    released = groupbytrace_stream(
        gbt_src,
        trace_col="user_id",
        ts_col="ts",
        wait_duration=_GBT_WAIT_MS / 1000,
        watermark="10 seconds",
    )
    gbt_name = f"stream_gbt_{os.getpid()}"
    q2 = (
        released.writeStream.outputMode("append")
        .format("memory")
        .queryName(gbt_name)
        .trigger(availableNow=True)
        .start()
    )

    # --- stateful deltatocumulative end-state (round-5 oracle fold)
    d2c_base = tempfile.mkdtemp(prefix="d2c_oracle_")
    d2c_src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(
            F.col("user_id").cast("string").alias("uid"),
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    q3 = stateful_delta_to_cumulative(
        d2c_src,
        ["uid"],
        value_col="value",
        ts_col="ts",
        state_path=f"{d2c_base}/state",
        output_path=f"{d2c_base}/out",
        checkpoint=f"{d2c_base}/ckpt",
    ).start()

    # --- streaming tailsampling decisions over released complete traces
    tails_dir = tempfile.mkdtemp(prefix="tails_oracle_")

    def _tails_sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{tails_dir}/out/batch={batch_id}")

    P = processors.TailPolicy
    q4 = tailsampling_stream(
        spark.readStream.schema(_gbt_schema).parquet(gbt_dir),
        [
            P("high_value", "agg", cond=F.max("value") > 195.0),
            P("span_count", "agg", cond=F.count(F.lit(1)) >= 600),
            P("and_mid", "and", subpolicies=[
                P("v", "agg", cond=F.max("value") > 190.0),
                P("n", "agg", cond=F.count(F.lit(1)) >= 150),
            ]),
            P("drop_tiny", "drop", subpolicies=[
                P("t", "agg", cond=F.max("value") < 199.0),
                P("t2", "agg", cond=F.count(F.lit(1)) < 650),
            ]),
        ],
        _tails_sink,
        checkpoint=f"{tails_dir}/ckpt",
        trace_col="user_id",
        ts_col="ts",
        decision_wait=_GBT_WAIT_MS / 1000,
        watermark="10 seconds",
    ).start()

    # availableNow triggers terminate once the bounded input drains; wait
    # for ACTUAL termination rather than a fixed timeout — at sf10 the
    # drain takes >300s and a timed-out wait would silently compare a
    # partial result (that exact mismatch is how this surfaced). Cap at
    # 1h per stream and fail LOUDLY if a stream is genuinely wedged.
    for sq in (q, q2, q3, q4):
        if not sq.awaitTermination(3600):
            raise RuntimeError(f"stream {sq.name} still active after 3600s")
    # all four availableNow streams have drained; read the parquet-backed
    # results BEFORE dropping the staged dirs (parquet reads are lazy —
    # collect into driver-local rows first, they're one row per stream key)
    d2c_out = spark.read.parquet(f"{d2c_base}/out/batch=*")
    d2c_rows = (
        d2c_out.groupBy("uid")
        .agg(
            # the cumulative at the stream's last (ts, value) row is the
            # stream total regardless of how micro-batches split the input
            F.max_by("cumulative", F.struct("ts", "value")).alias("cum"),
            F.max("ts").alias("mx"),
        )
        .select(
            F.lit("d2c").alias("kind"),
            F.col("uid").alias("k"),
            F.unix_millis(F.col("mx").cast("timestamp")).alias("t"),
            F.round(F.col("cum") * 100, 0).cast("long").alias("value"),
        )
        .collect()
    )
    tails_out = spark.read.parquet(f"{tails_dir}/out/batch=*")
    tails_rows = (
        tails_out.groupBy("user_id")
        .agg(
            F.first("gbt_released_ms").alias("rel"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("tailsample").alias("kind"),
            F.col("user_id").cast("string").alias("k"),
            F.col("rel").alias("t"),
            F.col("n").cast("long").alias("value"),
        )
        .collect()
    )
    extra = spark.createDataFrame(
        d2c_rows + tails_rows, "kind string, k string, t long, value long"
    )
    # drop the staged source/state copies (one full events copy per
    # driver-gate run otherwise leaks in /tmp until reboot)
    import shutil

    shutil.rmtree(gbt_dir, ignore_errors=True)
    shutil.rmtree(d2c_base, ignore_errors=True)
    shutil.rmtree(tails_dir, ignore_errors=True)

    win_rows = spark.table(name).select(
        F.lit("window").alias("kind"),
        F.col("event_type").alias("k"),
        F.col("window.start").cast("long").alias("t"),
        F.col("value").cast("long").alias("value"),
    )
    rel_rows = (
        spark.table(gbt_name)
        .groupBy("user_id")
        .agg(
            F.first("gbt_released_ms").alias("released_ms"),
            F.first("gbt_n_spans").cast("long").alias("n_spans"),
        )
        .select(
            F.lit("release").alias("kind"),
            F.col("user_id").cast("string").alias("k"),
            F.col("released_ms").alias("t"),
            F.col("n_spans").alias("value"),
        )
    )
    return win_rows.unionByName(rel_rows).unionByName(extra)


# the trigger/commit cycle is not SQL-expressible, but the FINAL state of
# all four bounded streams is: a tumbling 3600s epoch-aligned window is
# date_trunc('hour', ts); a single-release groupbytrace group is the
# key's whole history released at min(ts) + wait; a d2c stream's final
# cumulative is its total (in cents — values are 2-decimal); and a
# released COMPLETE trace passes tailsampling iff its group aggregates
# clear the OR'd keep policies and survive the drop veto
SQL_STREAMING_WINDOWED_COUNTS = f"""
SELECT 'window' AS kind, event_type AS k,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS t,
       COUNT(*) AS value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'release', CAST(user_id AS VARCHAR),
       epoch_ms(MIN(ts)) + {_GBT_WAIT_MS}, COUNT(*)
FROM events GROUP BY 2
UNION ALL
SELECT 'd2c', CAST(user_id AS VARCHAR), epoch_ms(MAX(ts)),
       CAST(ROUND(SUM(value) * 100) AS BIGINT)
FROM events GROUP BY 2
UNION ALL
SELECT 'tailsample', CAST(user_id AS VARCHAR),
       epoch_ms(MIN(ts)) + {_GBT_WAIT_MS}, COUNT(*)
FROM events
WHERE user_id IN (
  SELECT user_id FROM (
    SELECT user_id, MAX(value) AS mx, COUNT(*) AS cnt FROM events GROUP BY 1
  ) WHERE (mx > 195.0 OR cnt >= 600 OR (mx > 190.0 AND cnt >= 150))
      AND NOT (mx < 199.0 AND cnt < 650)
)
GROUP BY 2
"""


REGISTRY_SUITES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # round-2 additions first (never yet seen by the driver)
    "tailsampling_policies": (q_tailsampling_policies, SQL_TAILSAMPLING_POLICIES),
    "metricstransform_full": (q_metricstransform_full, SQL_METRICSTRANSFORM_FULL),
    "span_processor": (q_span_processor, SQL_SPAN_PROCESSOR),
    "ottl_xml_suite": (q_ottl_xml_suite, SQL_OTTL_XML_SUITE),
    "ottl_converters_misc": (q_ottl_converters_misc, SQL_OTTL_CONVERTERS_MISC),
    "text_decontamination": (q_text_decontamination, SQL_TEXT_DECONTAMINATION),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "streaming_windowed_counts": (
        q_streaming_windowed_counts,
        SQL_STREAMING_WINDOWED_COUNTS,
    ),
    # consolidated suites (operators unchecked in r01 come first)
    "parsers_syslog_time": (q_parsers_syslog_time, SQL_PARSERS_SYSLOG_TIME),
    "parsers_web": (q_parsers_web, SQL_PARSERS_WEB),
    "parsers_structured": (q_parsers_structured, SQL_PARSERS_STRUCTURED),
    "enrichment_suite": (q_enrichment_suite, SQL_ENRICHMENT_SUITE),
    "connector_metrics": (q_connector_metrics, SQL_CONNECTOR_METRICS),
    "otlpjson_slowsql": (q_otlpjson_slowsql, SQL_OTLPJSON_SLOWSQL),
    "ottl_field_ops": (q_ottl_field_ops, SQL_OTTL_FIELD_OPS),
    "formatter_suite": (q_formatter_suite, SQL_FORMATTER_SUITE),
    "metrics_temporal": (q_metrics_temporal, SQL_METRICS_TEMPORAL),
    "count_sum_connectors": (q_count_sum_connectors, SQL_COUNT_SUM_CONNECTORS),
    "routing_suite": (q_routing_suite, SQL_ROUTING_SUITE),
    "text_stats_suite": (q_text_stats_suite, None),  # SQL built lazily below
    "multimodal_suite": (q_multimodal_suite, SQL_MULTIMODAL_SUITE),
}

REGISTRY_SUITES["text_stats_suite"] = (q_text_stats_suite, _sql_text_stats())
