"""The benchmark's workloads: one pass, its output check, and its traced pass.

A pass goes through the program's public entry points only. Spark is lazy,
so a traced pass times each layer as a cumulative prefix forced through the
`noop` sink; a layer's self time is its prefix's wall time minus the
previous prefix's. The prefixes are the very DataFrames the program builds:
the traced pass wraps the public calls it makes (`parse_records`,
`lookup_enrich`, `routing_connector`, `write_fanout_with_counts`, ...) for
the length of the pass, recording a span around each call and keeping the
frame it returns.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans import config as plans_config
from opentelemetry_collector_contrib_spark.plans import pipeline
from opentelemetry_collector_contrib_spark.sinks import fanout
from opentelemetry_collector_contrib_spark.sources import readers
from opentelemetry_collector_contrib_spark.operators import connectors

from inputs import CHECK_MOD, DATAPREP_SUITES, data_files, fused_table, log_lines
from probes import node_count, node_sum

ENGINES = ["jvm", "arrow", "hybrid"]
FUSED_ROUTES = list(pipeline.DEFAULT_ROUTES) + ["default"]
BASE = ["self_s", "cpu_jvm_s", "cpu_py_s", "rows_in", "rows_out", "us_per_row"]
PY_SENT = "data sent to Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"

# layer -> (its metrics beyond BASE, whether it also reports BASE)
LAYERS: dict[str, tuple[list[str], bool]] = {
    "sources.scan": (["scans_per_pass"], True),
    "sources.filelog": (["scans_per_pass"], True),
    "functions.vparse": (["py_bytes_sent_per_row", "py_run_s"], True),
    **{f"functions.vparse.{e}": (["py_bytes_sent_per_row", "py_run_s"], True) for e in ENGINES},
    "functions.grok": (["match_ratio", "py_bytes_sent_per_row"], True),
    "operators.enrich": ([], True),
    "operators.connectors": ([f"rows_per_route.{r}" for r in FUSED_ROUTES], True),
    "operators.processors": (["rows_dropped"], True),
    "functions.ottl_parser": (["rows_dropped", "rows_not_set"], True),
    "sinks.fanout": (["bytes_written", "files_written", "jobs_per_pass"], True),
    "plans.config": (["compile_s"], False),
    **{
        f"dataprep.{s}": (
            ["wall_s", "shuffle_bytes", "stages", "tasks", "cpu_jvm_s", "cpu_py_s", "rows_in", "rows_out", "us_per_row"],
            False,
        )
        for s in DATAPREP_SUITES
    },
    "session": (["start_s", "warmup_s", "py_worker_start_s", "peak_rss_mb"], False),
    "trace": (["overhead_ratio"], False),
}

UNITS = {
    "self_s": "s", "cpu_jvm_s": "s", "cpu_py_s": "s", "rows_in": "count", "rows_out": "count",
    "us_per_row": "us", "scans_per_pass": "count", "py_bytes_sent_per_row": "B",
    "py_run_s": "s", "match_ratio": "ratio", "rows_dropped": "count", "rows_not_set": "count", "bytes_written": "B",
    "files_written": "count", "jobs_per_pass": "count", "rows_per_route": "count", "compile_s": "s", "wall_s": "s",
    "shuffle_bytes": "B", "stages": "count", "tasks": "count", "start_s": "s", "warmup_s": "s",
    "py_worker_start_s": "s", "peak_rss_mb": "MB", "overhead_ratio": "ratio",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit, in a fixed order."""
    out = {}
    for layer, (extras, with_base) in LAYERS.items():
        for m in (BASE if with_base else []) + extras:
            key = m.split(".", 1)[0]
            out[f"{layer}.{m}"] = UNITS[key]
    return out


def sink_footprint(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a sink directory."""
    files = data_files(path)
    return sum(os.path.getsize(f) for f in files), len(files)


@dataclass
class Prefix:
    """One forced prefix: wall, CPU and what Spark's stores saw."""

    wall: float
    cpu_jvm: float
    cpu_py: float
    obs: dict = field(default_factory=dict)
    execs: list = field(default_factory=list)
    stages: list = field(default_factory=list)

    @property
    def rows(self) -> int:
        return int(self.obs.get("rows", 0))


class Meter:
    """Runs an action and records its wall, CPU and Spark-store deltas."""

    def __init__(self, stores, procs, spans):
        self.stores, self.procs, self.spans = stores, procs, spans

    def measure(self, name: str, pass_id: str, action) -> tuple[Prefix, object]:
        mark = self.stores.mark()
        j0, p0 = self.procs.cpu()
        t0 = time.perf_counter()
        with self.spans.span(name, pass_id):
            result = action()
        wall = time.perf_counter() - t0
        j1, p1 = self.procs.cpu()
        pre = Prefix(wall, j1 - j0, p1 - p0, execs=self.stores.executions_since(mark),
                     stages=self.stores.stages_since(mark))
        return pre, result

    def force(self, name: str, pass_id: str, df: DataFrame, **aggs) -> Prefix:
        """Force `df` through the noop sink, counting its rows (and any
        extra aggregates) with an Observation on the same job."""
        obs = Observation(name)
        observed = df.observe(
            obs, F.count(F.lit(1)).alias("rows"), *[c.alias(k) for k, c in aggs.items()]
        )
        pre, _ = self.measure(
            f"prefix:{name}", pass_id,
            lambda: observed.write.format("noop").mode("overwrite").save(),
        )
        pre.obs = {k: (v or 0) for k, v in obs.get.items()}
        return pre


@contextmanager
def wrapped(spans, pass_id: str, targets):
    """Wrap `module.attr` callables for the length of a pass: each call is
    recorded as a span and its return value kept under `key`. A target's
    `then(value, args)` hook may wrap the returned value (for calls that
    return a stage)."""
    captured: dict[str, list] = {}
    saved = []
    for module, attr, key, then in targets:
        orig = getattr(module, attr)
        saved.append((module, attr, orig))

        def call(*a, _orig=orig, _key=key, _then=then, **kw):
            with spans.span(_key, pass_id):
                out = _orig(*a, **kw)
            captured.setdefault(_key, []).append(out)
            return _then(out, a) if _then else out

        setattr(module, attr, call)
    try:
        yield captured
    finally:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)


def layer(metrics: dict, name: str, cur: Prefix, prev: Prefix | None, rows_in: int, rows_out: int,
          prev_runs: int = 1) -> None:
    """Base metrics of one layer: self = cur - prev_runs x prev, where
    prev_runs is how often `cur` recomputes the previous prefix (once per
    write job for the sinks)."""
    def own(attr: str) -> float:
        return getattr(cur, attr) - (prev_runs * getattr(prev, attr) if prev else 0.0)

    self_s = own("wall")
    metrics[f"{name}.self_s"] = self_s
    metrics[f"{name}.cpu_jvm_s"] = own("cpu_jvm")
    metrics[f"{name}.cpu_py_s"] = own("cpu_py")
    metrics[f"{name}.rows_in"] = rows_in
    metrics[f"{name}.rows_out"] = rows_out
    metrics[f"{name}.us_per_row"] = self_s / max(rows_in, 1) * 1e6


def scans(execs, fmt: str) -> int:
    """Scans of the workload's input files (not of lookup tables)."""
    return node_count(execs, f"Scan {fmt}")


class FusedTokens:
    """`log_pipeline_fused` over the fused parquet table, default parse
    engine, written by `write_fanout_with_counts` to parquet."""

    name = "fused_tokens"
    generate = staticmethod(fused_table)

    def __init__(self, spark, inp: dict, out_dir: str):
        self.spark, self.inp, self.out = spark, inp, out_dir
        self.rows = inp["rows"]
        self.input_bytes = inp["bytes"]

    def _scan(self) -> DataFrame:
        return readers.table(self.spark, self.inp["path"])

    def _meta(self) -> DataFrame:
        from opentelemetry_collector_contrib_spark import datagen

        return datagen.source_meta(self.spark)

    def run_pass(self) -> dict:
        routed = pipeline.log_pipeline_fused(self._scan(), self._meta())["routed"]
        return fanout.write_fanout_with_counts(routed, self.out, pipeline.DEFAULT_ROUTES)

    def check(self, counts: dict) -> list[str]:
        return check_fused(self.spark, self.out, counts, self.inp)

    def output_bytes(self) -> int:
        return sink_footprint(self.out)[0]

    def traced_pass(self, meter: Meter, pass_id: str, metrics: dict) -> tuple[Prefix, dict]:
        scan = meter.force("sources.scan", pass_id, self._scan())
        targets = [
            (pipeline, "parse_records", "parse_records", None),
            (pipeline, "lookup_enrich", "lookup_enrich", None),
            (connectors, "routing_connector", "routing_connector", None),
        ]
        # the full pass, plan building included as in an untraced pass, keeps
        # the default engine's frames for the prefixes that follow
        with wrapped(
            meter.spans, pass_id,
            targets + [(fanout, "write_fanout_with_counts", "write_fanout_with_counts", None)],
        ) as frames:
            full, counts = meter.measure("pass", pass_id, self.run_pass)
        parsed: dict[str, Prefix] = {"functions.vparse": meter.force("functions.vparse", pass_id, frames["parse_records"][0])}
        for engine in ENGINES:
            with wrapped(meter.spans, pass_id, targets) as got:
                with meter.spans.span("log_pipeline_fused", pass_id):
                    pipeline.log_pipeline_fused(self._scan(), self._meta(), parse_impl=engine)
            key = f"functions.vparse.{engine}"
            parsed[key] = meter.force(key, pass_id, got["parse_records"][0])
        enrich = meter.force("operators.enrich", pass_id, frames["lookup_enrich"][0])
        route = meter.force("operators.connectors", pass_id, frames["routing_connector"][0])

        layer(metrics, "sources.scan", scan, None, scan.rows, scan.rows)
        metrics["sources.scan.scans_per_pass"] = scans(full.execs, "parquet")
        for key, pre in parsed.items():
            layer(metrics, key, pre, scan, scan.rows, pre.rows)
            metrics[f"{key}.py_bytes_sent_per_row"] = node_sum(pre.execs, "", PY_SENT) / max(scan.rows, 1)
            metrics[f"{key}.py_run_s"] = node_sum(pre.execs, "", PY_RUN)
        default = parsed["functions.vparse"]
        layer(metrics, "operators.enrich", enrich, default, default.rows, enrich.rows)
        layer(metrics, "operators.connectors", route, enrich, enrich.rows, route.rows)
        for r in FUSED_ROUTES:
            metrics[f"operators.connectors.rows_per_route.{r}"] = counts.get(r, 0)
        jobs = len(frames["write_fanout_with_counts"])
        layer(metrics, "sinks.fanout", full, route, route.rows, sum(counts.values()), jobs)
        nbytes, nfiles = sink_footprint(self.out)
        metrics["sinks.fanout.bytes_written"] = nbytes
        metrics["sinks.fanout.files_written"] = nfiles
        metrics["sinks.fanout.jobs_per_pass"] = jobs
        return full, counts


COLLECTOR_YAML = """
receivers:
  filelog:
    include: [{lines}/*.txt]
    operators:
      - type: grok_parser
        pattern: '%{{COMMONAPACHELOG}}'
processors:
  filter/drop_404:
    logs:
      log_record:
        - 'attributes["http_response_status_code"] == "404"'
  transform/tag:
    log_statements:
      - statements:
          - 'set(attributes["env"], "bench")'
exporters:
  clickhouse:
    format: parquet
  file:
    format: json
service:
  pipelines:
    logs:
      receivers: [filelog]
      processors: [filter/drop_404, transform/tag]
      exporters: [clickhouse, file]
"""
EXPORTER_FORMATS = {"clickhouse": "parquet", "file": "json"}


class CollectorYaml:
    """`compile_collector_config(...).run` over the bodies as filelog text:
    grok COMMONAPACHELOG -> filter (drop 404) -> transform -> parquet and
    json exporters."""

    name = "collector_yaml"
    generate = staticmethod(log_lines)

    def __init__(self, spark, inp: dict, out_dir: str):
        self.spark, self.inp, self.out = spark, inp, out_dir
        self.rows = inp["rows"]
        self.input_bytes = inp["bytes"]
        self.yaml = COLLECTOR_YAML.format(lines=inp["path"])

    def run_pass(self) -> dict:
        return plans_config.compile_collector_config(self.yaml).run(self.spark, self.out)["logs"]

    def check(self, counts: dict) -> list[str]:
        return check_collector(self.spark, self.out, counts, self.inp)

    def output_bytes(self) -> int:
        return sink_footprint(self.out)[0]

    def traced_pass(self, meter: Meter, pass_id: str, metrics: dict) -> tuple[Prefix, dict]:
        compile_pre, plan = meter.measure(
            "compile_collector_config", pass_id,
            lambda: plans_config.compile_collector_config(self.yaml),
        )

        got: dict[str, list] = {}

        def stage_capture(key_of):
            # the wrapped call returns a stage; keep the frame the stage returns
            def then(stage, args):
                def run(df):
                    out = stage(df)
                    got.setdefault(key_of(args), []).append(out)
                    return out
                return run
            return then

        processor_layer = {"filter": "operators.processors", "transform": "functions.ottl_parser"}
        targets = [
            (readers, "filelog", "sources.filelog", None),
            (plans_config, "build_pipeline", "build_pipeline", stage_capture(lambda args: "functions.grok")),
            (
                plans_config, "_collector_processor_stage", "processor_stage",
                stage_capture(lambda args: processor_layer[args[0]]),
            ),
            (fanout, "write_fanout_with_counts", "write_fanout_with_counts", None),
        ]
        with wrapped(meter.spans, pass_id, targets) as calls:
            full, counts = meter.measure("plan.run", pass_id, lambda: plan.run(self.spark, self.out)["logs"])
        filelog = meter.force("sources.filelog", pass_id, calls["sources.filelog"][0])
        grok = meter.force(
            "functions.grok", pass_id, got["functions.grok"][0],
            matched=F.sum(F.when(F.col("attributes").isNotNull(), 1).otherwise(0)),
        )
        filt = meter.force("operators.processors", pass_id, got["operators.processors"][0])
        transform = meter.force(
            "functions.ottl_parser", pass_id, got["functions.ottl_parser"][0],
            not_set=F.sum(F.when(F.element_at("attributes", "env").isNull(), 1).otherwise(0)),
        )

        metrics["plans.config.compile_s"] = compile_pre.wall
        layer(metrics, "sources.filelog", filelog, None, filelog.rows, filelog.rows)
        metrics["sources.filelog.scans_per_pass"] = scans(full.execs, "text")
        layer(metrics, "functions.grok", grok, filelog, filelog.rows, grok.rows)
        metrics["functions.grok.match_ratio"] = grok.obs.get("matched", 0) / max(filelog.rows, 1)
        metrics["functions.grok.py_bytes_sent_per_row"] = node_sum(grok.execs, "", PY_SENT) / max(filelog.rows, 1)
        layer(metrics, "operators.processors", filt, grok, grok.rows, filt.rows)
        metrics["operators.processors.rows_dropped"] = grok.rows - filt.rows
        layer(metrics, "functions.ottl_parser", transform, filt, filt.rows, transform.rows)
        metrics["functions.ottl_parser.rows_dropped"] = filt.rows - transform.rows
        # rows the transform's set() left without its key: set() on a NULL
        # attributes map (a line grok did not match) stays NULL
        metrics["functions.ottl_parser.rows_not_set"] = transform.obs.get("not_set", 0)
        # plan.run starts one write job per exporter format, and each job
        # recomputes filelog -> grok -> filter -> transform: the sink's own
        # share is the pass minus that prefix once per job
        jobs = len(calls["write_fanout_with_counts"])
        layer(metrics, "sinks.fanout", full, transform, transform.rows, sum(counts.values()), jobs)
        nbytes, nfiles = sink_footprint(self.out)
        metrics["sinks.fanout.bytes_written"] = nbytes
        metrics["sinks.fanout.files_written"] = nfiles
        metrics["sinks.fanout.jobs_per_pass"] = jobs
        return full, counts


def check_fused(spark, out: str, counts: dict, inp: dict) -> list[str]:
    """Per-sink counts sum to the input rows; each route directory holds its
    observed count; the (doc_id, tokens) checksum over all sinks equals the
    input's, so every token array arrived unchanged."""
    errors = []
    if sum(counts.values()) != inp["rows"]:
        errors.append(f"fused: sink counts sum {sum(counts.values())} != input rows {inp['rows']}")
    got = {
        r["route"]: (r["n"], r["s"])
        for r in spark.read.parquet(out)
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("doc_id", "tokens"), F.lit(CHECK_MOD))).alias("s"),
        )
        .collect()
    }
    for route in set(counts) | set(got):
        if counts.get(route, 0) != got.get(route, (0, 0))[0]:
            errors.append(f"fused: route {route} holds {got.get(route, (0, 0))[0]} rows, observed {counts.get(route, 0)}")
    if sum(s for _, s in got.values()) != inp["token_sum"]:
        errors.append("fused: (doc_id, tokens) checksum over the sinks differs from the input's")
    return errors


def check_collector(spark, out: str, counts: dict, inp: dict) -> list[str]:
    """Each exporter's count equals input lines minus the 404 lines (counted
    by the benchmark's own regex); parquet and json hold the same rows."""
    errors = []
    expected = inp["rows"] - inp["lines_404"]
    sums = {}
    for exporter, fmt in EXPORTER_FORMATS.items():
        if counts.get(exporter) != expected:
            errors.append(f"collector: exporter {exporter} reported {counts.get(exporter)}, expected {expected}")
        path = os.path.join(out, "logs", f"__exporter={exporter}")
        row = (
            spark.read.schema("body string").format(fmt).load(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64("body"), F.lit(CHECK_MOD))).alias("s"),
            )
            .first()
        )
        sums[exporter] = (row["n"], row["s"])
        if row["n"] != expected:
            errors.append(f"collector: {exporter} ({fmt}) holds {row['n']} rows, expected {expected}")
    if len(set(sums.values())) != 1:
        errors.append(f"collector: parquet and json exporters differ: {sums}")
    return errors


def dataprep_traced(spark, docs: dict, meter: Meter, pass_id: str, metrics: dict, check_oracle) -> list[str]:
    """Run the three dataprep registry suites once each, in the session the
    traced passes have warmed, and compare each result with its DuckDB
    oracle."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    errors = []
    for suite in DATAPREP_SUITES:
        pre, rows = meter.measure(f"queries()[{suite}]", pass_id, lambda q=queries[suite]: q(spark, docs["dir"]).collect())
        errors += check_dataprep(suite, rows, docs["oracle"][suite], check_oracle)
        key = f"dataprep.{suite}"
        metrics[f"{key}.wall_s"] = pre.wall
        metrics[f"{key}.shuffle_bytes"] = sum(s["shuffle_bytes"] for s in pre.stages)
        metrics[f"{key}.stages"] = len(pre.stages)
        metrics[f"{key}.tasks"] = sum(s["tasks"] for s in pre.stages)
        metrics[f"{key}.cpu_jvm_s"] = pre.cpu_jvm
        metrics[f"{key}.cpu_py_s"] = pre.cpu_py
        metrics[f"{key}.rows_in"] = docs["rows"]
        metrics[f"{key}.rows_out"] = len(rows)
        metrics[f"{key}.us_per_row"] = pre.wall / max(docs["rows"], 1) * 1e6
    return errors


def check_dataprep(suite: str, rows, oracle: dict, check_oracle) -> list[str]:
    """Row count, column names and order-insensitive value hash against the
    DuckDB oracle, normalised by check_oracle itself."""
    if not rows:
        return [f"dataprep: {suite} returned no rows"]
    errors = []
    cols = sorted(rows[0].asDict())
    if cols != oracle["cols"]:
        errors.append(f"dataprep: {suite} columns {cols} != oracle {oracle['cols']}")
    if len(rows) != oracle["rows"]:
        errors.append(f"dataprep: {suite} has {len(rows)} rows, oracle {oracle['rows']}")
    elif check_oracle.value_hash([r.asDict() for r in rows]) != oracle["hash"]:
        errors.append(f"dataprep: {suite} value hash differs from the oracle")
    return errors


WORKLOADS = {w.name: w for w in (FusedTokens, CollectorYaml)}


def median(xs):
    return statistics.median(xs) if xs else 0.0
