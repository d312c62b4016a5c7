"""Collector processors (§2.6) as DataFrame stages.

Each function mirrors one processor's semantics; citations point at the
reference implementation under /root/reference/processor/*.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashes import sample_predicate

# ---------------------------------------------------------------------------
# filter processor
# ---------------------------------------------------------------------------


def filter_processor(
    df: DataFrame, conditions: list[Column], null_safe: bool = True
) -> DataFrame:
    """filterprocessor: DROP records matching ANY condition (ORed)
    (/root/reference/processor/filterprocessor/logs.go:78-129).

    null_safe=True (default) keeps records whose condition evaluates to
    NULL — the reference's ignore-error semantics — at the cost of the
    coalesce wrapper blocking parquet filter pushdown. Pass
    null_safe=False when the conditions are known non-null (comparisons
    over non-nullable columns): the predicate then pushes into the scan
    (PushedFilters), which is what you want at 100TB."""
    if not conditions:
        return df
    drop = conditions[0]
    for c in conditions[1:]:
        drop = drop | c
    if null_safe:
        return df.filter(~F.coalesce(drop, F.lit(False)))
    return df.filter(~drop)


def filter_with_count(df: DataFrame, conditions: list[Column]) -> tuple[DataFrame, DataFrame]:
    """filter + the `otelcol_processor_filter_logs.filtered` telemetry count
    (generated_telemetry.go:71): returns (kept, dropped_count_df). Computed
    in ONE pass via a boolean tag + groupBy, not two scans. An empty
    condition list drops nothing (same tolerance as filter_processor)."""
    if not conditions:
        drop = F.lit(False)
    else:
        drop = conditions[0]
        for c in conditions[1:]:
            drop = drop | c
    tagged = df.withColumn("__dropped", F.coalesce(drop, F.lit(False)))
    counts = tagged.groupBy().agg(
        F.sum(F.col("__dropped").cast("long")).alias("dropped"),
        F.count(F.lit(1)).alias("records_in"),
    )
    return tagged.filter(~F.col("__dropped")).drop("__dropped"), counts


# ---------------------------------------------------------------------------
# attributes / resource processors (attraction action list)
# ---------------------------------------------------------------------------


@dataclass
class AttrAction:
    """One attraction action
    (/root/reference/internal/coreinternal/attraction/attraction.go:22,111-139):
    action in {insert, update, upsert, delete, hash, extract, convert}."""

    action: str
    key: str = ""
    value: object = None
    from_attribute: str = ""
    pattern: str = ""
    converted_type: str = ""


def attributes_processor(
    df: DataFrame, actions: list[AttrAction], target: str = "attributes", include: Column | None = None
) -> DataFrame:
    """attributesprocessor (and resourceprocessor when target=
    'resource_attributes'): ordered action list over a map column
    (/root/reference/processor/attributesprocessor/,
    attraction.go:176-300). `include` gates the whole list per record."""
    from ..functions.ottl import delete_key, extract_patterns, set_key

    m = F.col(target)
    for a in actions:
        has = F.array_contains(F.map_keys(m), a.key)
        val = (
            F.element_at(m, a.from_attribute)
            if a.from_attribute
            else (a.value if isinstance(a.value, Column) else F.lit(a.value))
        )
        if a.action == "insert":
            m = F.when(has, m).otherwise(set_key(m, a.key, val))
        elif a.action == "update":
            m = F.when(has, set_key(m, a.key, val)).otherwise(m)
        elif a.action == "upsert":
            m = set_key(m, a.key, val)
        elif a.action == "delete":
            m = delete_key(m, a.key)
        elif a.action == "hash":
            # SHA-256 of the current value (attraction.go sha2Hasher)
            m = F.when(has, set_key(m, a.key, F.sha2(F.element_at(m, a.key), 256))).otherwise(m)
        elif a.action == "extract":
            # only write extracted groups on a successful match
            # (attraction.go extract); extract_patterns is NULL on no-match
            ext = extract_patterns(F.element_at(m, a.key), a.pattern)
            merged = F.map_concat(
                F.map_filter(m, lambda k, _: ~F.array_contains(F.map_keys(ext), k)),
                ext,
            )
            m = F.when(ext.isNotNull(), merged).otherwise(m)
        elif a.action == "convert":
            # try_cast + keep-original-on-failure: the reference's
            # convertValue leaves the value untouched when ParseInt/
            # ParseFloat errors (type_converter.go:40-45); a plain cast
            # would ANSI-abort the job on one unconvertible value
            conv = F.element_at(m, a.key).try_cast(a.converted_type)
            m = F.when(
                has & conv.isNotNull(), set_key(m, a.key, conv.cast("string"))
            ).otherwise(m)
        else:
            raise ValueError(f"unknown action {a.action}")
    if include is not None:
        m = F.when(include, m).otherwise(F.col(target))
    return df.withColumn(target, m)


def redaction_processor(
    df: DataFrame,
    allowed_keys: list[str] | None = None,
    blocked_values: list[str] | None = None,
    mask: str = "****",
    target: str = "attributes",
) -> DataFrame:
    """redactionprocessor (/root/reference/processor/redactionprocessor/):
    drop non-allowed keys; mask values matching blocked regexes."""
    m = F.col(target)
    if allowed_keys is not None:
        arr = F.array(*[F.lit(k) for k in allowed_keys])
        m = F.map_filter(m, lambda k, _: F.array_contains(arr, k))
    for rx in blocked_values or []:
        m = F.transform_values(m, lambda _, v: F.regexp_replace(v, rx, mask))
    return df.withColumn(target, m)


# ---------------------------------------------------------------------------
# group-by processors
# ---------------------------------------------------------------------------


def groupbyattrs_processor(df: DataFrame, keys: list[str], target: str = "attributes") -> DataFrame:
    """groupbyattrsprocessor (/root/reference/processor/groupbyattrsprocessor/
    processor.go:63-100): promote the listed attribute keys to resource
    attributes (record -> resource recolumnization in the flat model) and
    drop them from the record attributes."""
    from ..functions.ottl import delete_key

    m = F.col(target)
    res = F.col("resource_attributes")
    for k in keys:
        has = F.array_contains(F.map_keys(m), k)
        res = F.when(
            has,
            F.map_concat(
                F.map_filter(res, lambda rk, _: rk != F.lit(k)),
                F.map_from_arrays(F.array(F.lit(k)), F.array(F.element_at(m, k))),
            ),
        ).otherwise(res)
    out = df.withColumn("resource_attributes", res)
    m2 = F.col(target)
    for k in keys:
        m2 = delete_key(m2, k)
    return out.withColumn(target, m2)


def groupbytrace_processor(df: DataFrame, trace_col: str = "trace_id") -> DataFrame:
    """groupbytraceprocessor (processor.go:78-235): buffer then release all
    spans of a trace together. Batch analog: cluster rows by trace id so a
    whole trace is co-located (one shuffle), preserving all columns."""
    return df.repartition(trace_col).sortWithinPartitions(trace_col)


# ---------------------------------------------------------------------------
# logdedup
# ---------------------------------------------------------------------------


def logdedup_processor(
    df: DataFrame,
    interval_seconds: int = 10,
    ts_col: str = "ingest_ts_ts",
    exclude_fields: list[str] | None = None,
    log_count_attribute: str = "log_count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """logdedupprocessor (/root/reference/processor/logdedupprocessor/
    processor.go:85-158, counter.go:84-243): within each interval window,
    collapse records with identical (body, severity, attributes-minus-
    excluded) into one, carrying first/last timestamps and a count
    attribute (config.go:44-45).

    One shuffle: groupBy(window, key). first_observed/last_observed are
    min/max; the representative record is the earliest (min_by)."""
    if key_cols is None:
        # reference default key: everything except the timestamp and the
        # excluded fields (counter.go:185-243 hash over remaining fields)
        excluded = set(exclude_fields or [])
        key_cols = [c for c in df.columns if c != ts_col and c not in excluded]
        if not key_cols:
            key_cols = ["body", "severity_text"]
    win = F.window(F.col(ts_col), f"{interval_seconds} seconds")
    others = [c for c in df.columns if c not in key_cols and c != ts_col]
    agg = [
        F.count(F.lit(1)).alias(log_count_attribute),
        F.min(ts_col).alias("first_observed"),
        F.max(ts_col).alias("last_observed"),
    ] + [F.min_by(c, F.col(ts_col)).alias(c) for c in others]
    return (
        df.groupBy(win.alias("__w"), *key_cols)
        .agg(*agg)
        .drop("__w")
    )


# ---------------------------------------------------------------------------
# metric temporality processors — per-stream window arithmetic
# ---------------------------------------------------------------------------


def deltatocumulative_processor(
    df: DataFrame, stream_cols: list[str], ts_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """deltatocumulativeprocessor (processor.go:74-186): per metric stream,
    running sum of deltas. Batch: cumulative window sum (the max_stale /
    max_streams eviction knobs are memory guards for the Go interpreter's
    state map; a shuffle-partitioned window needs neither)."""
    w = Window.partitionBy(*stream_cols).orderBy(ts_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(value_col, F.sum(value_col).over(w))


def cumulativetodelta_processor(
    df: DataFrame, stream_cols: list[str], ts_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """cumulativetodeltaprocessor: value - lag(value) per stream; first
    point of a stream is dropped (no prior reference point), matching the
    reference's first-observation behavior."""
    w = Window.partitionBy(*stream_cols).orderBy(ts_col)
    delta = F.col(value_col) - F.lag(value_col).over(w)
    return df.withColumn(value_col, delta).filter(F.col(value_col).isNotNull())


def deltatorate_processor(
    df: DataFrame, stream_cols: list[str], ts_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """deltatorateprocessor: delta value / interval seconds -> rate."""
    w = Window.partitionBy(*stream_cols).orderBy(ts_col)
    dt = F.col(ts_col).cast("double") - F.lag(F.col(ts_col).cast("double")).over(w)
    rate = F.when(dt > 0, F.col(value_col) / dt)
    return df.withColumn(value_col, rate).filter(F.col(value_col).isNotNull())


def interval_processor(
    df: DataFrame,
    stream_cols: list[str],
    interval_seconds: int = 60,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """intervalprocessor (processor.go:97-229): per stream per tumbling
    interval keep the LAST datapoint."""
    win = F.window(F.col(ts_col), f"{interval_seconds} seconds")
    return (
        df.groupBy(win.alias("__w"), *stream_cols)
        .agg(F.max_by(value_col, ts_col).alias(value_col), F.max(ts_col).alias(ts_col))
        .drop("__w")
    )


_MT_AGGS = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max, "count": F.count}


def _mt_name_matches(metric_col: F.Column, include: str, match_type: str) -> F.Column:
    if match_type == "regexp":
        return metric_col.rlike(include)
    return metric_col == F.lit(include)


def metricstransform_processor(
    df: DataFrame,
    rules: list[dict],
    metric_col: str = "metric",
    labels_col: str = "labels",
    value_col: str = "value",
) -> DataFrame:
    """metricstransformprocessor — the full transform set
    (/root/reference/processor/metricstransformprocessor/config.go:60-211):
    per-rule `action` in {update, insert} with `new_name` (strict or
    regexp with $1-style submatch refs) and `operations`:

      add_label / update_label (label rename + value_actions) /
      delete_label_value / toggle_scalar_data_type /
      experimental_scale_value / aggregate_labels / aggregate_label_values

    Data model: one datapoint per row with a `labels` map<string,string>
    column. Each rule compiles to narrow column expressions; only the two
    aggregate_* operations shuffle (one keyed hash-agg each), identical
    to what the Go processor's in-memory regroup does per batch.

    rule dict keys: include, match_type ('strict'|'regexp'), action
    ('update'|'insert'), new_name, operations: list of dicts with
    action + (label, new_label, new_value, value_actions{old:new},
    label_value, aggregation_type, label_set, aggregated_values,
    experimental_scale).
    """
    from ..functions.ottl import delete_key, set_key

    out = df
    for rule in rules:
        match = _mt_name_matches(F.col(metric_col), rule["include"], rule.get("match_type", "strict"))
        renamed = None
        if rule.get("new_name"):
            if rule.get("match_type") == "regexp":
                # regexp_replace expands $1-style submatch refs
                renamed = F.regexp_replace(
                    F.col(metric_col), rule["include"], rule["new_name"]
                )
            else:
                renamed = F.lit(rule["new_name"])
        if rule.get("action", "update") == "insert":
            copy = out.filter(match)
            if renamed is not None:
                copy = copy.withColumn(metric_col, renamed)
            out = _mt_apply_operations(
                copy, rule.get("operations", []), F.lit(True), metric_col, labels_col, value_col
            ).unionByName(out, allowMissingColumns=True)
            continue
        # update in place: tag the matched rows BEFORE renaming so the
        # operations hit exactly the rows `include` selected — never
        # pre-existing metrics that happen to bear the new name
        out = out.withColumn("__mt_match", F.coalesce(match, F.lit(False)))
        if renamed is not None:
            out = out.withColumn(
                metric_col, F.when(F.col("__mt_match"), renamed).otherwise(F.col(metric_col))
            )
        out = _mt_apply_operations(
            out, rule.get("operations", []), F.col("__mt_match"), metric_col, labels_col, value_col
        ).drop("__mt_match")
    return out


def _mt_regroup(frame, match, agg, metric_col, labels_col, value_col):
    """Shared regroup for aggregate_labels / aggregate_label_values: the
    matched rows re-aggregate on (metric, sorted label entries); rows that
    were regrouped stay the rule's matched set for later operations."""
    matched = frame.filter(match)
    rest = frame.filter(~F.coalesce(match, F.lit(False)))
    regrouped = (
        matched.groupBy(metric_col, F.array_sort(F.map_entries(labels_col)).alias("__e"))
        .agg(agg(value_col).alias(value_col))
        .withColumn(labels_col, F.map_from_entries(F.col("__e")))
        .drop("__e")
    )
    if "__mt_match" in frame.columns:
        regrouped = regrouped.withColumn("__mt_match", F.lit(True))
    return regrouped.unionByName(rest, allowMissingColumns=True)


def _mt_apply_operations(
    df: DataFrame, operations: list[dict], match: F.Column,
    metric_col: str, labels_col: str, value_col: str,
) -> DataFrame:
    from ..functions.ottl import set_key

    out = df
    m = lambda: F.col(labels_col)  # noqa: E731
    for op in operations:
        a = op["action"]
        if a == "add_label":
            newm = set_key(m(), op["new_label"], F.lit(op["new_value"]))
            out = out.withColumn(labels_col, F.when(match, newm).otherwise(m()))
        elif a == "update_label":
            cur = m()
            if op.get("value_actions"):
                remap = None
                v = F.element_at(cur, op["label"])
                for old, new in op["value_actions"].items():
                    remap = (F.when(v == old, new) if remap is None else remap.when(v == old, new))
                remap = remap.otherwise(v)
                cur = F.when(
                    F.array_contains(F.map_keys(cur), op["label"]),
                    set_key(cur, op["label"], remap),
                ).otherwise(cur)
            if op.get("new_label"):
                cur = F.transform_keys(
                    cur, lambda k, _: F.when(k == op["label"], op["new_label"]).otherwise(k)
                )
            out = out.withColumn(labels_col, F.when(match, cur).otherwise(m()))
        elif a == "delete_label_value":
            # drop datapoints carrying this label value (config.go:190);
            # rows WITHOUT the label make element_at NULL — coalesce so
            # they are kept, not silently dropped by a NULL predicate
            out = out.filter(
                ~F.coalesce(
                    match & (F.element_at(m(), op["label"]) == op["label_value"]),
                    F.lit(False),
                )
            )
        elif a == "toggle_scalar_data_type":
            # long <-> double; our flat model carries doubles, so toggling
            # to int truncates (matching the Go int64(f) cast)
            out = out.withColumn(
                value_col,
                F.when(match, F.col(value_col).cast("long").cast("double")).otherwise(
                    F.col(value_col)
                ),
            )
        elif a == "experimental_scale_value":
            out = out.withColumn(
                value_col,
                F.when(match, F.col(value_col) * F.lit(op["experimental_scale"])).otherwise(
                    F.col(value_col)
                ),
            )
        elif a == "aggregate_labels":
            keep = op["label_set"]
            agg = _MT_AGGS[op.get("aggregation_type", "sum")]
            shrunk = out.withColumn(
                labels_col,
                F.when(
                    match,
                    F.map_filter(m(), lambda k, _: F.array_contains(F.array(*[F.lit(x) for x in keep]), k)),
                ).otherwise(m()),
            )
            out = _mt_regroup(shrunk, match, agg, metric_col, labels_col, value_col)
        elif a == "aggregate_label_values":
            # collapse listed values of one label into new_value, combine
            v = F.element_at(m(), op["label"])
            vals = F.array(*[F.lit(x) for x in op["aggregated_values"]])
            newv = F.when(F.array_contains(vals, v), op["new_value"]).otherwise(v)
            from ..functions.ottl import set_key as _sk

            remapped = out.withColumn(
                labels_col, F.when(match, _sk(m(), op["label"], newv)).otherwise(m())
            )
            agg = _MT_AGGS[op.get("aggregation_type", "sum")]
            out = _mt_regroup(remapped, match, agg, metric_col, labels_col, value_col)
        else:
            raise ValueError(f"unknown metricstransform operation {a!r}")
    return out


def metricsgeneration_processor(
    df: DataFrame, name1: str, name2: str, operation: str,
    id_cols: list[str], metric_col: str = "metric", value_col: str = "value",
    out_name: str | None = None,
) -> DataFrame:
    """metricsgenerationprocessor: new_metric = metric1 OP metric2 after a
    self-join on metric identity (id_cols)."""
    a = df.filter(F.col(metric_col) == name1).select(*id_cols, F.col(value_col).alias("__v1"))
    b = df.filter(F.col(metric_col) == name2).select(*id_cols, F.col(value_col).alias("__v2"))
    ops = {
        "add": F.col("__v1") + F.col("__v2"),
        "subtract": F.col("__v1") - F.col("__v2"),
        "multiply": F.col("__v1") * F.col("__v2"),
        "divide": F.when(F.col("__v2") != 0, F.col("__v1") / F.col("__v2")),
        "percent": F.when(F.col("__v2") != 0, F.col("__v1") * 100.0 / F.col("__v2")),
    }
    out = a.join(b, id_cols)
    return out.select(
        *id_cols,
        F.lit(out_name or f"{name1}_{operation}_{name2}").alias(metric_col),
        ops[operation].alias(value_col),
    )


def metricstarttime_processor(
    df: DataFrame,
    stream_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    strategy: str = "true_reset_point",
) -> DataFrame:
    """metricstarttimeprocessor (/root/reference/processor/
    metricstarttimeprocessor/, strategies truereset / subtractinitial):
    assign start_time_unix to cumulative streams.

    - true_reset_point: start_time = the stream's first observed point,
      re-anchored after each reset (value < previous value);
    - subtract_initial_point: additionally subtract the first value after
      the anchor so each segment restarts from 0 (initial point dropped
      semantics collapsed to value-offsetting, one window pass).

    Per-stream window functions only — one shuffle on the stream key."""
    w = Window.partitionBy(*stream_cols).orderBy(ts_col)
    prev = F.lag(value_col).over(w)
    is_reset = prev.isNull() | (F.col(value_col) < prev)
    tagged = df.withColumn("__seg", F.sum(F.when(is_reset, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    ))
    ws = Window.partitionBy(*stream_cols, "__seg").orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = tagged.withColumn("start_time", F.first(ts_col).over(ws))
    if strategy == "subtract_initial_point":
        out = out.withColumn(
            value_col, F.col(value_col) - F.first(value_col).over(ws)
        )
    elif strategy != "true_reset_point":
        raise ValueError(f"unknown strategy {strategy!r}")
    return out.drop("__seg")


def exponential_to_explicit_histogram(
    df: DataFrame,
    explicit_bounds: list[float],
    dims: list[str],
    scale: int,
    index_col: str = "bucket_index",
    count_col: str = "bucket_count",
    zero_count_col: str | None = "zero_count",
    distribution: str = "upper",
) -> DataFrame:
    """transformprocessor convert_exponential_hist_to_explicit_hist
    (/root/reference/processor/transformprocessor/internal/metrics/
    func_convert_exponential_hist_to_explicit_hist.go:109-205): each
    exponential bucket [e^(i*f), e^((i+1)*f)] with f = ln2 * 2^-scale
    lands in
      1. the overflow bucket when lower > bounds[-1],
      2. bIndex-1 when it fits exactly inside (bounds[bIndex-1], bounds[bIndex]],
      3. else per `distribution`: 'upper' -> first j with upper <= bounds[j];
         'midpoint' -> j-1 (j>0) for the first j with (upper+lower)/2 <=
         bounds[j]; overflow fallback for both;
    the zero bucket joins bucket 0 only when bounds[0] == 0.

    Input rows: one per (dims, bucket_index) with counts (the
    spanmetrics_exponential output shape). Output: one row per dims with
    the explicit `bucket_counts` array — a single keyed aggregation."""
    import math

    f = math.log(2.0) * (2.0 ** -scale)
    idx = F.col(index_col).cast("double")
    upper = F.exp((idx + 1) * f)
    lower = F.exp(idx * f)
    last = len(explicit_bounds) - 1
    expr = F.when(lower > explicit_bounds[-1], last)
    for b in range(1, len(explicit_bounds)):
        expr = expr.when(
            (lower > explicit_bounds[b - 1]) & (upper <= explicit_bounds[b]), b - 1
        )
    if distribution == "upper":
        for j, bound in enumerate(explicit_bounds):
            expr = expr.when(upper <= bound, j)
    elif distribution == "midpoint":
        midpoint = (upper + lower) / 2
        for j, bound in enumerate(explicit_bounds):
            expr = expr.when(midpoint <= bound, max(j - 1, 0))
    else:
        raise ValueError(f"unsupported distribution {distribution!r} (upper|midpoint)")
    expr = expr.otherwise(last)
    tagged = df.withColumn(
        "__target", F.when(F.col(index_col).isNotNull(), expr)
    )
    aggs = [
        F.sum(
            F.when(F.col("__target") == j, F.col(count_col)).otherwise(0)
        ).alias(f"__b{j}")
        for j in range(len(explicit_bounds))
    ]
    if zero_count_col:
        # max, not first(): first() over an unordered group is
        # nondeterministic and may pick a NULL from a row that doesn't
        # carry the (per-dim-constant) zero count
        aggs.append(F.max(zero_count_col).alias("__zero"))
    per = tagged.groupBy(*dims).agg(*aggs)
    counts = [F.col(f"__b{j}") for j in range(len(explicit_bounds))]
    if zero_count_col and explicit_bounds[0] == 0:
        counts[0] = counts[0] + F.coalesce(F.col("__zero"), F.lit(0))
    out = per.withColumn("bucket_counts", F.array(*counts)).withColumn(
        "explicit_bounds", F.array(*[F.lit(float(b)) for b in explicit_bounds])
    )
    return out.drop(*[f"__b{j}" for j in range(len(explicit_bounds))], "__zero")


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


_MAX_ADJ = 1 << 56  # OTEP 235 MaxAdjustedCount (pkg/sampling/threshold.go)


def probability_to_threshold(p: float, precision: int = 14) -> int:
    """OTEP 235 rejection threshold for probability p, rounded to
    `precision` hex digits past any leading-'f' run — mirrors
    pkg/sampling ProbabilityToThresholdWithPrecision (config-time
    scalar; the full 14-digit value is used when precision >= 14)."""
    scaled = round(p * _MAX_ADJ)
    reject = _MAX_ADJ - scaled
    if reject == 0 or precision >= 14:
        return reject
    hexstr = f"{reject:014x}"
    lead_f = len(hexstr) - len(hexstr.lstrip("f"))
    keep = min(14, precision + lead_f)
    drop_bits = 4 * (14 - keep)
    return ((reject + (1 << drop_bits >> 1)) >> drop_bits) << drop_bits


def _th_hex(t: Column) -> Column:
    """Encode a 56-bit rejection threshold as a tracestate 'th' value:
    14-digit left-aligned lowercase hex, trailing zeros trimmed
    (pkg/sampling/threshold.go TValue())."""
    padded = F.lower(F.lpad(F.hex(t.cast("long")), 14, "0"))
    trimmed = F.regexp_replace(padded, "0+$", "")
    return F.when(trimmed == "", "0").otherwise(trimmed)


def probabilistic_sampler(
    df: DataFrame,
    percent: float,
    key_col: str = "trace_id",
    seed: str = "",
    mode: str = "hash_seed",
    th_col: str | None = None,
    precision: int = 14,
    priority_col: str | None = None,
) -> DataFrame:
    """probabilisticsamplerprocessor, all three sampler modes
    (/root/reference/processor/probabilisticsamplerprocessor/
    sampler_mode.go:55-75, logsprocessor.go:115-130):

    - hash_seed: deterministic hash(key) < 2^32*pct/100 (the original
      FNV-shaped acceptance compare) — never rand(), so resampling the
      same data keeps the same rows.
    - equalizing (OTEP 235): effective threshold = max(configured,
      incoming `th`) — equalizes heterogeneous incoming probabilities
      down to the configured rate; keep iff T <= R.
    - proportional (OTEP 235): outgoing probability = incoming
      probability * pct/100 (sampler_mode.go:285-302); keep iff
      T(p_out) <= R; probabilities below 2^-56 become never-sample.

    R is the low 56 bits of the hex trace id (W3C randomness), T_in is
    parsed from `th_col` (tracestate 'th', left-aligned hex, NULL = th
    absent = probability 1). Consistent-mode outputs carry the outgoing
    'sampling_threshold' th encoding so downstream samplers and
    adjusted-count accounting (1/p = 2^56/(2^56-T)) compose. All pure
    column math — one filter, no shuffle."""
    if mode == "hash_seed":
        return df.filter(sample_predicate(F.col(key_col), percent, seed))
    r = F.conv(F.substring(F.col(key_col), -14, 14), 16, 10).cast("long")
    t_in = (
        F.coalesce(
            F.conv(F.rpad(F.col(th_col), 14, "0"), 16, 10).cast("long"),
            F.lit(0).cast("long"),
        )
        if th_col
        else F.lit(0).cast("long")
    )
    def apply_priority(t: Column) -> Column:
        """sampling-priority override (logsprocessor.go:239-270): a
        nonzero numeric `priority_col` value p is a per-record request to
        be sampled with probability >= p/100 — the threshold becomes
        T(p/100), replacing the mode's decision for that record."""
        if not priority_col:
            return t
        # try_cast: a non-numeric priority attribute is IGNORED by the
        # reference (strconv failure -> no override), not a job abort
        p = F.col(priority_col).try_cast("double") / F.lit(100.0)
        prio_scaled = F.round(p * F.lit(float(_MAX_ADJ)), 0)
        t_prio = (F.lit(float(_MAX_ADJ)) - prio_scaled).cast("long")
        has = p.isNotNull() & (p > 0)
        return F.when(has, t_prio).otherwise(t)

    if mode == "equalizing":
        t_cfg = probability_to_threshold(percent / 100.0, precision)
        t_eff = apply_priority(F.greatest(t_in, F.lit(t_cfg).cast("long")))
        out = df.withColumn("sampling_threshold", _th_hex(t_eff))
        return out.filter(t_eff <= r)
    if mode == "proportional":
        ratio = percent / 100.0
        p_in = (F.lit(float(_MAX_ADJ)) - t_in.cast("double")) / F.lit(float(_MAX_ADJ))
        p_out = p_in * F.lit(ratio)
        scaled = F.round(p_out * F.lit(float(_MAX_ADJ)), 0)
        never = scaled < 1  # probability underflow -> NeverSampleThreshold
        t_out = apply_priority(
            F.when(never, F.lit(_MAX_ADJ - 1)).otherwise(
                F.lit(float(_MAX_ADJ)) - scaled
            ).cast("long")
        )
        if priority_col:
            # try_cast: the sampling-priority override is an attribute
            # value (logsprocessor.go:239-270) — a non-numeric one is
            # IGNORED by the reference (no override), not a job abort
            p = F.col(priority_col).try_cast("double")
            never = never & ~(p.isNotNull() & (p > 0))
        out = df.withColumn(
            "sampling_threshold", F.when(~never, _th_hex(t_out))
        )
        return out.filter((~never) & (t_out.cast("double") <= r.cast("double")))
    raise ValueError(f"unknown sampler mode {mode!r} (hash_seed|equalizing|proportional)")


# ---------------------------------------------------------------------------
# tailsampling policy DSL
# ---------------------------------------------------------------------------


@dataclass
class TailPolicy:
    """One tailsampling policy
    (/root/reference/processor/tailsamplingprocessor/internal/sampling/):

    kind:
      'agg'           — cond is a boolean AGGREGATE over the trace's spans
                        (covers latency / numeric_tag / string_tag /
                        boolean_tag / status_code / ottl / span_count forms)
      'probabilistic' — deterministic hash(trace) < pct (probabilistic.go)
      'rate_limiting' — spans-per-second budget (rate_limiting.go):
                        a trace samples iff the cumulative span count in
                        its arrival second, including itself, stays below
                        spans_per_second
      'and'           — all subpolicies sample (and.go)
      'drop'          — all subpolicies sample => trace is DROPPED with
                        veto over every other policy (drop.go)
      'always'        — always_sample.go
    """

    name: str
    kind: str = "agg"
    cond: Column | None = None
    percent: float = 100.0
    spans_per_second: int = 0
    subpolicies: list["TailPolicy"] | None = None


def _leaf_decision(p: TailPolicy, trace_col: str, ts_col: str | None):
    """-> (aggregate Column | post-agg Column builder) per policy kind."""
    if p.kind in ("agg",):
        return p.cond
    if p.kind == "always":
        return F.lit(True)
    if p.kind == "probabilistic":
        # deterministic hash of the trace id (probabilistic.go hashes the
        # trace id with a seed; we reuse the FNV-based sample predicate)
        return sample_predicate(F.first(F.col(trace_col)), p.percent)
    if p.kind == "and":
        agg = None
        for sub in p.subpolicies or []:
            c = _leaf_decision(sub, trace_col, ts_col)
            agg = c if agg is None else (agg & c)
        return agg
    raise ValueError(f"policy kind {p.kind} must be handled at the trace level")


def tail_sampling_policies(
    df: DataFrame,
    policies: list[TailPolicy],
    trace_col: str = "trace_id",
    ts_col: str | None = None,
) -> DataFrame:
    """tailsamplingprocessor with the full policy set: OR of sampling
    policies, minus 'drop' vetoes, with 'rate_limiting' applying a
    per-second span budget over traces in arrival order
    (rate_limiting.go:35-50: sample iff spansInSecond + count < limit).

    Plan: one groupBy(trace) computing every aggregate policy at once,
    window-based budget pass for rate_limiting policies (partitioned by
    arrival second — bounded state), then a semi-join back. Two shuffles
    total regardless of policy count."""
    aggs = [F.count(F.lit(1)).alias("__span_count")]
    if ts_col:
        aggs.append(F.min(ts_col).alias("__first_ts"))
    names: list[str] = []
    drop_names: list[str] = []
    rate_policies: list[TailPolicy] = []
    for p in policies:
        if p.kind == "drop":
            sub = None
            for s in p.subpolicies or []:
                c = _leaf_decision(s, trace_col, ts_col)
                sub = c if sub is None else (sub & c)
            aggs.append(F.coalesce(sub, F.lit(False)).alias(f"__drop_{p.name}"))
            drop_names.append(p.name)
        elif p.kind == "rate_limiting":
            rate_policies.append(p)
        elif p.kind == "probabilistic":
            # hash the trace id (logsprocessor.go hash_seed mode)
            pred = sample_predicate(F.first(F.col(trace_col)), p.percent)
            aggs.append(pred.alias(f"__pol_{p.name}"))
            names.append(p.name)
        else:
            c = _leaf_decision(p, trace_col, ts_col)
            aggs.append(F.coalesce(c, F.lit(False)).alias(f"__pol_{p.name}"))
            names.append(p.name)
    per_trace = df.groupBy(trace_col).agg(*aggs)
    for p in rate_policies:
        if not ts_col:
            raise ValueError("rate_limiting policy needs ts_col")
        sec = F.floor(F.col("__first_ts").cast("double")).cast("long")
        w = (
            Window.partitionBy(sec)
            .orderBy(F.col("__first_ts"), F.col(trace_col))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = F.sum("__span_count").over(w)
        per_trace = per_trace.withColumn(
            f"__pol_{p.name}", cum < F.lit(p.spans_per_second)
        )
        names.append(p.name)
    if not names:
        # only drop policies configured: None & ~drop would coerce to a
        # NULL predicate and silently discard every trace — fail loudly,
        # mirroring the collector's config validation
        raise ValueError(
            "tail_sampling needs at least one sampling (non-drop) policy"
        )
    sampled = None
    for n in names:
        c = F.col(f"__pol_{n}")
        sampled = c if sampled is None else (sampled | c)
    for n in drop_names:
        sampled = sampled & ~F.col(f"__drop_{n}")
    keep = per_trace.filter(sampled).select(trace_col)
    return df.join(keep, trace_col, "left_semi")


# ---------------------------------------------------------------------------
# span processor
# ---------------------------------------------------------------------------


def span_processor(
    df: DataFrame,
    from_attributes: list[str] | None = None,
    separator: str = "",
    to_attributes_rules: list[str] | None = None,
    keep_original_name: bool = False,
    break_after_match: bool = False,
    name_col: str = "span_name",
    attrs_col: str = "attributes",
) -> DataFrame:
    """spanprocessor (/root/reference/processor/spanprocessor/span.go):

    1. from_attributes: span name := values of the listed attribute keys
       joined by `separator` — ALL keys must be present or the name is
       left unchanged (span.go:100-137).
    2. to_attributes rules: each regex with named groups extracts
       attributes from the span name; the matched portion is replaced by
       the attribute-name placeholder `^{key}` unless keep_original_name;
       rules chain on the running name, stopping after the first match
       when break_after_match (span.go processToAttributes).
    """
    from ..functions.ottl import extract_patterns, set_key

    out = df
    if from_attributes:
        vals = [F.element_at(F.col(attrs_col), k) for k in from_attributes]
        all_present = None
        for v in vals:
            p = v.isNotNull()
            all_present = p if all_present is None else (all_present & p)
        new_name = F.concat_ws(separator, *vals)
        out = out.withColumn(
            name_col, F.when(all_present, new_name).otherwise(F.col(name_col))
        )
    if to_attributes_rules:
        import re as _re

        matched_before = F.lit(False)
        for rule in to_attributes_rules:
            ext = extract_patterns(F.col(name_col), rule)
            hit = ext.isNotNull()  # NULL = regex did not match the name
            apply = hit & (~matched_before if break_after_match else F.lit(True))
            attrs = F.col(attrs_col)
            merged = F.map_concat(
                F.map_filter(attrs, lambda k, _: ~F.array_contains(F.map_keys(ext), k)),
                ext,
            )
            out = out.withColumn(attrs_col, F.when(apply, merged).otherwise(attrs))
            if not keep_original_name:
                # rewrite the name in one regexp_replace: the full match is
                # replaced by a template keeping the non-group text and
                # swapping each named group for its ^{name} placeholder
                # strip group names for the JVM pattern (Java rejects '_'
                # and '.' in group names; the template uses no backrefs)
                jvm_rule = _re.sub(r"\(\?P?<(?![=!])[^>]+>", "(", rule)
                template = _span_name_template(rule)
                replaced = F.regexp_replace(F.col(name_col), jvm_rule, template)
                out = out.withColumn(
                    name_col, F.when(apply, replaced).otherwise(F.col(name_col))
                )
            matched_before = matched_before | hit
    return out


def _span_name_template(rule: str) -> str:
    """Build the regexp_replace template: non-group pattern text kept
    literally (escapes unwrapped, anchors dropped), each named group
    replaced by its {group_name} placeholder (span.go:188-199). Assumes
    inter-group pattern text is literal — the shape of real rename rules
    like /api/v1/document/(?P<documentId>.*)/update."""
    import re as _re

    out = []
    depth = 0
    i = 0
    while i < len(rule):
        ch = rule[i]
        if rule.startswith("(?P<", i) or (
            rule.startswith("(?<", i)
            and not rule.startswith("(?<=", i)
            and not rule.startswith("(?<!", i)
        ):
            m = _re.match(r"\(\?P?<([A-Za-z_][A-Za-z0-9_.]*)>", rule[i:])
            if m is None:
                raise ValueError(f"unsupported group name syntax at {rule[i:i+20]!r}")
            name = m.group(1)
            out.append("{" + name + "}")
            depth_local = 1
            i += m.end()
            while i < len(rule) and depth_local > 0:
                if rule[i] == "(" and rule[i - 1] != "\\":
                    depth_local += 1
                elif rule[i] == ")" and rule[i - 1] != "\\":
                    depth_local -= 1
                i += 1
            continue
        if ch == "(" and (i == 0 or rule[i - 1] != "\\"):
            depth += 1
        elif ch == ")" and rule[i - 1] != "\\":
            depth -= 1
        elif depth == 0 and ch not in "^$":
            if ch == "\\" and i + 1 < len(rule):
                nxt = rule[i + 1]
                # Java replacement strings treat '$' and '\' specially —
                # an unescaped literal from a rule like r'(?P<n>\d+)\$'
                # would abort the job with INVALID_REGEXP_REPLACE
                # ('Illegal group reference'); re-escape for Java
                out.append("\\" + nxt if nxt in "$\\" else nxt)
                i += 2
                continue
            out.append(ch)
        i += 1
    return "".join(out)


def unroll_processor(df: DataFrame, col: str, out_col: str | None = None, recursive: bool = False) -> DataFrame:
    """unrollprocessor (/root/reference/processor/unrollprocessor/
    processor.go:31-71): body that is a slice -> one record per element.
    recursive=True keeps exploding while the result is still an array —
    the reference recurses until non-slice; Spark's schema is static, so
    the depth is read from the column's DataType and the explode chain is
    built to match."""
    from pyspark.sql import types as T

    target = out_col or col
    out = df.withColumn(target, F.explode(F.col(col)))
    if recursive:
        dt = df.schema[col].dataType
        while isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.ArrayType):
            out = out.withColumn(target, F.explode(F.col(target)))
            dt = dt.elementType
    return out


def schema_processor(df: DataFrame, rename_map: dict[str, str], target: str = "attributes") -> DataFrame:
    """schemaprocessor (/root/reference/processor/schemaprocessor/):
    semantic-convention version translation = map-key renames."""
    m = F.col(target)
    for old, new in rename_map.items():
        has = F.array_contains(F.map_keys(m), old)
        m = F.when(
            has,
            F.map_concat(
                F.map_filter(m, lambda k, _: k != F.lit(old)),
                F.map_from_arrays(F.array(F.lit(new)), F.array(F.element_at(m, old))),
            ),
        ).otherwise(m)
    return df.withColumn(target, m)


def resourcedetection_processor(df: DataFrame, detected: dict[str, str], override: bool = False) -> DataFrame:
    """resourcedetectionprocessor (resourcedetection_processor.go:30-75):
    env detected once driver-side -> constant resource attributes."""
    m = F.col("resource_attributes")
    for k, v in detected.items():
        has = F.array_contains(F.map_keys(m), k)
        newm = F.map_concat(
            F.map_filter(m, lambda mk, _: mk != F.lit(k)),
            F.map_from_arrays(F.array(F.lit(k)), F.array(F.lit(v))),
        )
        m = newm if override else F.when(has, m).otherwise(newm)
    return df.withColumn("resource_attributes", m)
