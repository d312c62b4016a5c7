"""Config-driven pipeline assembly: the collector's YAML surface compiled
to a Spark DataFrame plan.

The reference wires receivers -> processors -> connectors -> exporters
from YAML (stanza operator DAG: /root/reference/pkg/stanza/pipeline/
directed.go:29-124; processor configs: transformprocessor/config.go:38-50,
filterprocessor, routingconnector/config.go:25-41). `build_pipeline`
accepts the same shapes — operator `type` + its config keys, OTTL
statements/conditions as strings — and returns a DataFrame -> DataFrame
function whose body is one Catalyst plan.

Example (YAML or dict):

    operators:
      - type: json_parser
        parse_from: body
      - type: severity_parser
        parse_from: attributes[level]
      - type: transform
        statements:
          - set(attributes["env"], "prod") where severity_number >= 17
      - type: filter
        conditions:
          - severity_number < 5
      - type: router
        routes:
          - name: errors
            condition: severity_number >= 17
          - name: audit
            condition: 'attributes["env"] == "prod"'
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ottl_parser import apply_statements, parse_condition
from ..operators import parsers, processors, transformers
from ..session import cached


def _stage(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    t = cfg["type"]
    if t == "regex_parser":
        return lambda df: parsers.regex_parser(
            df, cfg["regex"], cfg.get("parse_from", "body"), cfg.get("parse_to", "attributes"),
            cfg.get("on_error", "send"),
        )
    if t == "grok_parser":
        return lambda df: parsers.grok_parser(
            df, cfg["pattern"], cfg.get("custom"), cfg.get("parse_from", "body"),
        )
    if t == "json_parser":
        return lambda df: parsers.json_parser(
            df, cfg.get("parse_from", "body"), cfg.get("parse_to", "attributes")
        )
    if t == "csv_parser":
        return lambda df: parsers.csv_parser(
            df, cfg["header"], cfg.get("delimiter", ","), cfg.get("parse_from", "body")
        )
    if t == "key_value_parser":
        return lambda df: parsers.keyvalue_parser(
            df, cfg.get("delimiter", "="), cfg.get("pair_delimiter", " "),
            cfg.get("parse_from", "body"),
        )
    if t == "syslog_parser":
        return lambda df: parsers.syslog_parser(df, cfg.get("protocol", "rfc5424"))
    if t == "container":
        return lambda df: parsers.container_parser(
            df, add_metadata_from_filepath=cfg.get("add_metadata_from_filepath", False)
        )
    if t == "time_parser":
        return lambda df: parsers.time_parser(
            df, cfg["parse_from"], cfg["layout"], cfg.get("layout_type", "strptime")
        )
    if t == "severity_parser":
        return lambda df: parsers.severity_parser(df, cfg["parse_from"], cfg.get("mapping"))
    if t in ("add", "remove", "copy", "move", "retain", "unquote", "regex_replace"):
        fn = getattr(transformers, t)
        if t == "add":
            return lambda df: fn(df, cfg["field"], cfg["value"])
        if t == "remove":
            return lambda df: fn(df, cfg["field"])
        if t in ("copy", "move"):
            return lambda df: fn(df, cfg["from"], cfg["to"])
        if t == "retain":
            return lambda df: fn(df, cfg["fields"])
        if t == "unquote":
            return lambda df: fn(df, cfg["field"])
        return lambda df: fn(df, cfg["field"], cfg["pattern"], cfg["replacement"])
    if t == "transform":
        # transformprocessor log_statements (OTTL strings)
        return lambda df: apply_statements(df, cfg["statements"])
    if t == "filter":
        conds = [parse_condition(c) for c in cfg["conditions"]]
        return lambda df: processors.filter_processor(df, conds)
    if t == "attributes":
        actions = [processors.AttrAction(**a) for a in cfg["actions"]]
        return lambda df: processors.attributes_processor(df, actions)
    if t == "redaction":
        return lambda df: processors.redaction_processor(
            df, cfg.get("allowed_keys"), cfg.get("blocked_values", []), cfg.get("mask", "*")
        )
    if t == "router":
        routes = [(r["name"], parse_condition(r["condition"])) for r in cfg["routes"]]
        default = cfg.get("default", "default")
        return lambda df: transformers.router(df, routes, default)
    if t == "logdedup":
        return lambda df: processors.logdedup_processor(
            df, cfg.get("interval", 10), cfg.get("timestamp", "ts"), key_cols=cfg["keys"]
        )
    if t == "span":
        # processor/spanprocessor/config.go `name:` block
        name_cfg = cfg.get("name", {})
        to_attrs = name_cfg.get("to_attributes", {})
        return lambda df: processors.span_processor(
            df,
            from_attributes=name_cfg.get("from_attributes"),
            separator=name_cfg.get("separator", ""),
            to_attributes_rules=to_attrs.get("rules"),
            keep_original_name=to_attrs.get("keep_original_name", False),
            break_after_match=to_attrs.get("break_after_match", False),
        )
    if t == "tail_sampling":
        # processor/tailsamplingprocessor config `policies:` — leaf
        # condition strings are OTTL-style aggregate conditions evaluated
        # per trace; composite forms nest under and_sub_policy/drop
        def compile_policy(p: dict) -> processors.TailPolicy:
            kind = p["type"]
            if kind in ("and", "drop"):
                subs = [compile_policy(sp) for sp in p.get("policies", [])]
                return processors.TailPolicy(p["name"], kind, subpolicies=subs)
            if kind == "probabilistic":
                return processors.TailPolicy(
                    p["name"], "probabilistic", percent=p.get("sampling_percentage", 100.0)
                )
            if kind == "rate_limiting":
                return processors.TailPolicy(
                    p["name"], "rate_limiting", spans_per_second=p["spans_per_second"]
                )
            if kind == "always_sample":
                return processors.TailPolicy(p["name"], "always")
            if kind == "span_count":
                return processors.TailPolicy(
                    p["name"], "agg", cond=F.count(F.lit(1)) >= p["min_spans"]
                )
            if kind == "latency":
                return processors.TailPolicy(
                    p["name"], "agg",
                    cond=F.max(F.col(p.get("duration_col", "duration_ns")))
                    > p["threshold_ms"] * 1_000_000,
                )
            # generic aggregate condition string, e.g. 'max(value) > 195.0'
            return processors.TailPolicy(p["name"], "agg", cond=F.expr(p["condition"]))

        pols = [compile_policy(p) for p in cfg["policies"]]
        return lambda df: processors.tail_sampling_policies(
            df, pols, trace_col=cfg.get("trace_col", "trace_id"), ts_col=cfg.get("ts_col")
        )
    if t == "metricstransform":
        return lambda df: processors.metricstransform_processor(
            df, cfg["transforms"],
            metric_col=cfg.get("metric_col", "metric"),
            labels_col=cfg.get("labels_col", "labels"),
            value_col=cfg.get("value_col", "value"),
        )
    if t == "probabilistic_sampler":
        # processor/probabilisticsamplerprocessor config surface
        return lambda df: processors.probabilistic_sampler(
            df,
            cfg.get("sampling_percentage", 100.0),
            key_col=cfg.get("key_col", "trace_id"),
            mode=cfg.get("mode", "hash_seed"),
            th_col=cfg.get("th_col"),
            priority_col=cfg.get("sampling_priority"),
            precision=cfg.get("sampling_precision", 14),
        )
    if t == "sumologic":
        from ..operators import sumologic

        return lambda df: sumologic.sumologic_processor(
            df,
            attrs_col=cfg.get("attrs_col", "attributes"),
            add_cloud_namespace_enabled=cfg.get("add_cloud_namespace", True),
            translate_attributes_enabled=cfg.get("translate_attributes", True),
            nest_attributes_enabled=cfg.get("nest_attributes", {}).get("enabled", False),
            nesting_separator=cfg.get("nest_attributes", {}).get("separator", "."),
            aggregate=[
                (p["attribute"], p["prefixes"])
                for p in cfg.get("aggregate_attributes", [])
            ]
            or None,
            log_fields=bool(cfg.get("field_attributes")),
        )
    if t == "datadogsemantics":
        from ..operators.datadog import datadog_semantics

        return lambda df: datadog_semantics(
            df,
            override_incoming_datadog_fields=cfg.get(
                "override_incoming_datadog_fields", False
            ),
        )
    if t == "journald_parser":
        return lambda df: parsers.journald_parser(
            df, cfg.get("parse_from", "body"), cfg.get("parse_to", "attributes"),
            cfg.get("on_error", "send"),
        )
    if t == "windows_event_parser":
        return lambda df: parsers.windows_event_parser(
            df, cfg.get("parse_from", "body"), cfg.get("parse_to", "attributes"),
            cfg.get("on_error", "send"),
        )
    raise ValueError(f"unknown operator type {t!r}")


def build_pipeline(config: dict | str) -> Callable[[DataFrame], DataFrame]:
    """Compile an operator-chain config (dict, or YAML string) into a
    single DataFrame transformation."""
    if isinstance(config, str):
        import yaml

        config = yaml.safe_load(config)
    stages = [_stage(c) for c in config["operators"]]

    def run(df: DataFrame) -> DataFrame:
        for s in stages:
            df = s(df)
        return df

    return run


def routed_counts(df: DataFrame) -> DataFrame:
    """Convenience: per-route obsreport counts after a router stage."""
    return df.groupBy("route").agg(F.count(F.lit(1)).alias("records_out"))


# ---------------------------------------------------------------------------
# Full collector-config surface: receivers / processors / exporters /
# service.pipelines — the YAML shape a reference user actually runs
# (e.g. /root/reference/cmd/oteltestbedcol config layout; processor config
# key shapes per each processor's config.go). Logs pipelines only: the
# flat row model carries any signal, but the receiver set here is log-
# shaped (filelog / otlpjsonfile / table scans).
# ---------------------------------------------------------------------------


def _collector_processor_stage(ptype: str, cfg: dict) -> Callable[[DataFrame], DataFrame]:
    """Collector-level processor config -> stage. Key shapes follow the
    reference's config.go for each processor (NOT the stanza operator
    keys, which _stage handles)."""
    cfg = cfg or {}
    if ptype == "filter":
        conds = [parse_condition(c) for c in cfg.get("logs", {}).get("log_record", [])]
        return lambda df: processors.filter_processor(df, conds)
    if ptype == "transform":
        stmts: list[str] = []
        for block in cfg.get("log_statements", []):
            if isinstance(block, str):
                stmts.append(block)
            else:
                stmts.extend(block.get("statements", []))
        return lambda df: apply_statements(df, stmts)
    if ptype == "attributes":
        actions = [processors.AttrAction(**a) for a in cfg["actions"]]
        return lambda df: processors.attributes_processor(df, actions)
    if ptype == "resource":
        actions = [processors.AttrAction(**a) for a in cfg["attributes"]]
        return lambda df: processors.attributes_processor(
            df, actions, target="resource_attributes"
        )
    if ptype == "redaction":
        return lambda df: processors.redaction_processor(
            df, cfg.get("allowed_keys"), cfg.get("blocked_values", []),
            cfg.get("summary_mask", cfg.get("mask", "****")),
        )
    if ptype == "probabilistic_sampler":
        # attribute_source is the reference's ENUM ('traceID' | 'record',
        # config.go:16-27,86-90), not a column name: 'record' hashes the
        # from_attribute column, 'traceID' the trace id. Misreading it as
        # the key column would hash a column literally named 'traceID'
        # (AnalysisException) and silently drop from_attribute.
        pct = cfg["sampling_percentage"]
        source = cfg.get("attribute_source", "traceID")
        if source == "record":
            key = cfg.get("from_attribute") or "event_id"
        elif source == "traceID":
            key = cfg.get("key_col", "trace_id")
        else:  # already a concrete column name (this engine's extension)
            key = source
        return lambda df: processors.probabilistic_sampler(
            df,
            pct,
            key_col=key,
            mode=cfg.get("mode", "hash_seed"),
            th_col=cfg.get("th_col"),
            priority_col=cfg.get("sampling_priority"),
            precision=cfg.get("sampling_precision", 14),
        )
    if ptype == "groupbyattrs":
        return lambda df: processors.groupbyattrs_processor(df, cfg["keys"])
    if ptype in ("span", "tail_sampling", "metricstransform", "logdedup"):
        return _stage({"type": ptype, **cfg})
    raise ValueError(f"unknown collector processor type {ptype!r}")


def compile_collector_config(config: dict | str):
    """Compile a collector-shaped config into a runnable plan object:

        plan = compile_collector_config(yaml_text)
        counts = plan.run(spark, out_base)   # {exporter_name: records_out}

    Supported: receivers filelog (include glob + embedded stanza
    `operators` chain) / otlpjsonfile / table; all processors of
    `_collector_processor_stage`; exporters file/clickhouse (parquet or
    json dirs under out_base) and nop; `service.pipelines.logs*` wiring
    with multi-exporter fan-out written in one job per exporter FORMAT
    (fanout.write_fanout_with_counts shape: exporters sharing a format
    share a job). When a pipeline's exporters span several formats, the
    processed frame is persisted for the duration of its write jobs, so
    receivers and processors run once per pipeline, not once per job."""
    if isinstance(config, str):
        import yaml

        config = yaml.safe_load(config)

    receivers = config.get("receivers", {})
    procs = config.get("processors", {})
    exporters = config.get("exporters", {})
    pipelines = config.get("service", {}).get("pipelines", {})

    def read_receiver(spark, name: str) -> DataFrame:
        from ..sources import readers

        ptype = name.split("/", 1)[0]
        rcfg = receivers[name] or {}
        if ptype == "filelog":
            include = rcfg["include"]
            glob = include[0] if isinstance(include, list) else include
            df = readers.filelog(
                spark, glob, include_file_path=rcfg.get("include_file_path", False)
            )
            ops = rcfg.get("operators")
            if ops:
                df = build_pipeline({"operators": ops})(df)
            return df
        if ptype == "otlpjsonfile":
            include = rcfg["include"]
            return readers.otlpjson_file(
                spark, include[0] if isinstance(include, list) else include
            )
        if ptype == "table":
            return readers.table(spark, rcfg["path"], rcfg.get("format", "parquet"))
        raise ValueError(f"unknown receiver {name!r}")

    class _Plan:
        def run(self, spark, out_base: str) -> dict[str, dict[str, int]]:
            from ..sinks.fanout import write_fanout_with_counts

            results: dict[str, dict[str, int]] = {}
            for pname, pipe in pipelines.items():
                if not pname.startswith("logs"):
                    raise ValueError(f"only logs pipelines supported, got {pname!r}")
                frames = [read_receiver(spark, r) for r in pipe.get("receivers", [])]
                df = frames[0]
                for extra in frames[1:]:
                    df = df.unionByName(extra, allowMissingColumns=True)
                for proc_name in pipe.get("processors", []):
                    ptype = proc_name.split("/", 1)[0]
                    df = _collector_processor_stage(ptype, procs.get(proc_name))(df)
                exps = pipe.get("exporters", [])
                for e in exps:
                    if e not in exporters and e.split("/", 1)[0] != "nop":
                        raise ValueError(f"pipeline {pname} references unknown exporter {e!r}")
                # fan-out: tag every record with every exporter (the
                # collector fanoutconsumer duplicates data to N exporters)
                # and write in one partitionBy(exporter) job
                real = [e for e in exps if e.split("/", 1)[0] != "nop"]
                if not real:
                    results[pname] = {}
                    continue
                tagged = df.withColumn(
                    "__exporter", F.explode(F.array(*[F.lit(e) for e in real]))
                )
                fmt_of = {
                    e: (exporters[e] or {}).get("format", "json" if e.startswith("file") else "parquet")
                    for e in real
                }
                # one write per distinct format (partitionBy can't mix formats)
                fmts = sorted(set(fmt_of.values()))
                # several write jobs: cache the processed frame so they
                # share one receiver -> processors pass (the foreachBatch
                # multi-sink idiom)
                counts: dict[str, int] = {}
                with cached(df) if len(fmts) > 1 else nullcontext():
                    for fmt in fmts:
                        sel = [e for e in real if fmt_of[e] == fmt]
                        part = tagged.filter(F.col("__exporter").isin(sel))
                        got = write_fanout_with_counts(
                            part, f"{out_base}/{pname}", route_names=sel,
                            route_col="__exporter", fmt=fmt,
                        )
                        # 'default' is write_fanout's routing catch-all, not
                        # an exporter of this pipeline — a phantom zero entry
                        # would corrupt per-exporter accounting consumers
                        if "default" not in sel:
                            got.pop("default", None)
                        counts.update(got)
                results[pname] = counts
            return results

    return _Plan()
