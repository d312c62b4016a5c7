"""End-to-end parse -> enrich -> route -> aggregate pipelines.

`log_pipeline` is the north-rule job over the tokenized-sequence input
(doc_id, tokens, n_tok, source) joined with its serialized payloads:
vectorized parse (grok/JSON/kv/containerd by format), broadcast enrichment
with source metadata, first-match routing to per-tenant sinks, per-sink
aggregate counts — one Catalyst plan, one shuffle (the final count), with
the token arrays carried through untouched (per-row invariant).

`events_pipeline` is the same shape over the driver's `events` table
(flagship/smoke query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import connectors, parsers
from ..operators.enrich import lookup_enrich
from ..sinks.fanout import sink_counts


def _severity_from_attrs(df: DataFrame) -> DataFrame:
    attrs = F.col("attributes")
    # try_cast: an attrs["status"] above int range (crafted JSON body)
    # must yield NULL severity input, not an ANSI CAST_INVALID_INPUT
    # that aborts the whole pipeline job
    status = F.element_at(attrs, "status").try_cast("int")
    text = F.lower(
        F.coalesce(
            F.element_at(attrs, "level"),
            F.when(status >= 500, F.lit("error")).when(status >= 400, F.lit("warn")),
            F.lit("info"),
        )
    )
    return parsers.severity_parser(df.withColumn("__sev_text", text), "__sev_text").drop("__sev_text")


# The parse engine of parse_records and log_pipeline_fused. On a 4-core
# host at local[2] the three engines ran within run-to-run spread of each
# other (perfbench fused_tokens), so the default stays the engine the
# flagship has always run there.
DEFAULT_PARSE_IMPL = "hybrid"


def parse_records(logs: DataFrame, impl: str = DEFAULT_PARSE_IMPL) -> DataFrame:
    """Vectorized parse of the 4 payload shapes (apache common-log / JSON /
    key=value / containerd) + severity + observed-timestamp fallback.

    impl="hybrid" (default): JSON and key=value rows parse in the JVM
    (from_json / str_to_map), and the Python workers receive body bytes
    only for the two regex formats, through the arrow UDF — fewer
    bytes/row across the Python boundary than "arrow".
    impl="arrow": one pyarrow-native UDF (arrow_udf) for all four formats
    — format dispatch, RE2 extraction, and the output MapArray assembly
    all in Arrow C++; only JSON/key=value rows touch per-row Python.
    impl="jvm": pure column expressions (from_json / str_to_map /
    regexp_extract chain) inside whole-stage codegen — zero Python, the
    reference the other two are held to. All produce identical maps."""
    from ..functions.ottl import extract_patterns

    # single source of truth for the format patterns — a drifted copy here
    # would silently break the documented jvm/arrow parity
    from ..functions.vparse import (
        APACHE_DETECT_PAT,
        APACHE_PAT,
        CONTAINERD_PAT,
        KV_DETECT_PAT,
        java_pattern,
        parse_multiformat_arrow,
    )

    if impl not in ("hybrid", "arrow", "jvm"):
        raise ValueError(f"parse impl must be 'hybrid', 'arrow' or 'jvm', got {impl!r}")
    body = F.col("body")
    # Java-regex variants of the canonical RE2-semantics patterns (`$`
    # rewritten to \z so a trailing-newline body is rejected exactly
    # like the Arrow/python impls)
    apache_rx = java_pattern(APACHE_PAT)
    containerd_rx = java_pattern(CONTAINERD_PAT)
    kv_detect_rx = java_pattern(KV_DETECT_PAT)
    fmt = F.col("fmt") if "fmt" in logs.columns else F.lit(None).cast("int")

    if impl == "hybrid":
        # split the work by where each format parses cheapest: JSON and
        # key=value go to the JVM expressions (from_json/str_to_map —
        # Jackson + codegen, parity-tested against the Python models),
        # and the Python workers receive body BYTES only for the two
        # regex formats (the masked column ships as Arrow nulls for
        # everything else).
        # eqNullSafe, NOT ==: a NULL fmt makes `fmt == 1` NULL, the NULL
        # propagates through ~(is_json | is_kv), and when() then masks
        # EVERY auto-detect row to NULL — silently dropping the two
        # regex formats whenever fmt is absent
        is_json = fmt.eqNullSafe(1) | (fmt.isNull() & body.startswith("{"))
        is_kv = fmt.eqNullSafe(2) | (
            fmt.isNull()
            & ~body.startswith("{")
            & body.rlike(kv_detect_rx)
        )
        masked = F.when(~(is_json | is_kv), body)
        parsed = (
            F.when(is_json, F.from_json(body, "map<string,string>"))
            .when(is_kv, F.str_to_map(F.trim(body), F.lit(" "), F.lit("=")))
            .otherwise(parse_multiformat_arrow(masked, fmt))
        )
    elif impl == "arrow":
        parsed = parse_multiformat_arrow(body, fmt)
    else:
        # auto-detect (no fmt column, or a NULL fmt cell): same dispatch
        # order as vparse._parse_one
        det = (
            F.when(body.startswith("{"), F.from_json(body, "map<string,string>"))
            .when(
                body.rlike(kv_detect_rx),
                F.str_to_map(F.trim(body), F.lit(" "), F.lit("=")),
            )
            .when(
                body.rlike(APACHE_DETECT_PAT),
                extract_patterns(body, apache_rx),
            )
            .otherwise(extract_patterns(body, containerd_rx))
        )
        if "fmt" in logs.columns:
            parsed = (
                F.when(fmt == 1, F.from_json(body, "map<string,string>"))
                .when(fmt == 2, F.str_to_map(F.trim(body), F.lit(" "), F.lit("=")))
                .when(fmt == 0, extract_patterns(body, apache_rx))
                # NULL fmt auto-detects (the arrow impl does; without
                # this branch NULL-fmt JSON rows would silently parse as
                # containerd); unknown tags fall through to containerd
                .when(fmt.isNull(), det)
                .otherwise(extract_patterns(body, containerd_rx))
            )
        else:
            parsed = det
    records = logs.withColumn("attributes", parsed)
    records = _severity_from_attrs(records)
    if "ingest_ts" in logs.columns:
        # ingest time is the observed timestamp (stanza entry semantics);
        # the formatter falls back to it when event time is absent
        records = records.withColumn("observed_time_unix_nano", F.col("ingest_ts"))
    return records


# first-match routes of both log pipelines (routingconnector README's
# tenant example): severity >= ERROR first, then one route per tenant
DEFAULT_ROUTES = ["errors", "acme", "ecorp"]


def _enrich_route(
    records: DataFrame, meta: DataFrame, routes: list[tuple[str, F.Column]] | None
) -> dict[str, DataFrame]:
    """The shared tail of the log pipelines: broadcast enrichment (source ->
    service/namespace/region/tenant), the resource map, first-match
    routing and per-sink counts. Calls `lookup_enrich` and
    `connectors.routing_connector` through their module attributes, so a
    wrapper installed on either sees every pipeline."""
    enriched = lookup_enrich(records, meta, "source")
    enriched = enriched.withColumn(
        "resource_attributes",
        F.map_from_arrays(
            F.array(F.lit("service.name"), F.lit("k8s.namespace.name"), F.lit("cloud.region")),
            F.array(F.col("service_name"), F.col("namespace"), F.col("region")),
        ),
    )
    if not routes:
        errors, *tenants = DEFAULT_ROUTES
        routes = [(errors, F.col("severity_number") >= 17)]
        routes += [(t, F.col("tenant") == t) for t in tenants]
    routed = connectors.routing_connector(enriched, routes)
    return {"routed": routed, "counts": sink_counts(routed)}


def log_pipeline(
    sequences: DataFrame,
    logs: DataFrame,
    meta: DataFrame,
    routes: list[tuple[str, F.Column]] | None = None,
) -> dict[str, DataFrame]:
    """The north-rule pipeline over SEPARATE sequence + payload tables.
    Returns {'routed': ..., 'counts': ...}.

    Shuffle budget: the sequences⨝logs join is keyed on doc_id (bucket both
    tables on doc_id at scale and it is shuffle-free); meta is broadcast;
    routing is narrow. Prefer `log_pipeline_fused` when payloads are stored
    in the sequence table itself — that variant has zero shuffles."""
    records = parse_records(logs)
    # join payloads with their token sequences (doc_id is the row identity)
    joined = records.join(sequences.select("doc_id", "tokens", "n_tok"), "doc_id")
    return _enrich_route(joined, meta, routes)


def log_pipeline_fused(
    fused: DataFrame,
    meta: DataFrame,
    routes: list[tuple[str, F.Column]] | None = None,
    parse_impl: str = DEFAULT_PARSE_IMPL,
    keep_payload: bool = False,
) -> dict[str, DataFrame]:
    """North-rule pipeline over the FUSED input table
    (doc_id, tokens, n_tok, source, body, ingest_ts, fmt) — the
    scale-correct layout: payload and tokens co-located, so the whole
    pipeline is one narrow pass (scan -> parse -> broadcast enrich ->
    first-match route) with ZERO shuffles; per-sink counts come from an
    Observation on the write job (sinks/fanout.write_fanout_with_counts),
    not a second scan.

    parse_impl picks the parse_records engine. By default
    the serialized payload (`body`, `fmt`) is PRUNED right after the
    parse — the extracted attribute map subsumes it, and carrying ~100
    raw bytes/row through enrich -> route -> every per-sink write is pure
    memory-bandwidth burn at 10^12 rows (and 15-20%% of the post-parse
    row width here). keep_payload=True retains them for sinks that
    re-export the raw body (e.g. the glassflow formatter's Body column)."""
    records = parse_records(fused, impl=parse_impl)
    if not keep_payload:
        records = records.drop("body", "fmt", "ingest_ts")
    return _enrich_route(records, meta, routes)


def events_as_log_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recast the driver's `events` table as flat log records: props is the
    serialized payload (json_parser target), event_type drives severity."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = parsers.json_parser(ev, parse_from="props", parse_to="attributes")
    sev_text = (
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("event_type") == "purchase", "info2")
        .otherwise("info")
    )
    ev = parsers.severity_parser(ev.withColumn("__sev", sev_text), "__sev").drop("__sev")
    return ev


def events_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship smoke query: parse -> enrich -> route -> per-sink counts
    over the events table."""
    ev = events_as_log_records(spark, sf_dir)
    tiers = spark.createDataFrame(
        [("error", "errors"), ("purchase", "revenue"), ("signup", "growth"),
         ("login", "auth"), ("view", "traffic")],
        "event_type string, team string",
    )
    enriched = lookup_enrich(ev, tiers, "event_type")
    routed = connectors.routing_connector(
        enriched,
        [
            ("errors", F.col("severity_number") >= 17),
            ("high_value", F.col("value") > 150.0),
            ("team_revenue", F.col("team") == "revenue"),
        ],
    )
    return (
        routed.groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("records_out"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("route")
    )
