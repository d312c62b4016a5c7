"""Canonical row model: the flattened LogRecord.

The reference's pdata tree (plog.Logs -> ResourceLogs -> ScopeLogs ->
LogRecord; see /root/reference/pkg/ottl/contexts/internal/ctxlog/log.go:26-82
for the authoritative field list) is flattened to one row per LogRecord —
the reference itself flattens for per-record processing
(/root/reference/processor/transformprocessor/internal/logs/processor.go:54-56)
and its glassflow exporter emits exactly one flat JSON object per record
(/root/reference/exporter/glassflowexporter/internal/formatter/formatter.go:68-84).

We keep that flat shape as the canonical DataFrame schema throughout the
pipeline; resource/scope attributes ride along as map<string,string> columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Flat LogRecord schema (pre-formatter, typed).
LOG_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("observed_time_unix_nano", T.LongType()),
        T.StructField("severity_number", T.IntegerType()),
        T.StructField("severity_text", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource_attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource_schema_url", T.StringType()),
        T.StructField("scope_name", T.StringType()),
        T.StructField("scope_version", T.StringType()),
        T.StructField("scope_attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("scope_schema_url", T.StringType()),
        T.StructField("trace_id", T.StringType()),  # 32 lowercase hex chars
        T.StructField("span_id", T.StringType()),  # 16 lowercase hex chars
        T.StructField("flags", T.IntegerType()),
        T.StructField("event_name", T.StringType()),
    ]
)

# Severity text -> number mapping. Mirrors the stanza severity registry
# (/root/reference/pkg/stanza/operator/helper/severity_builder.go: the
# named levels trace/trace2.. through fatal4 and common aliases).
SEVERITY_NUMBER = {
    "trace": 1, "trace2": 2, "trace3": 3, "trace4": 4,
    "debug": 5, "debug2": 6, "debug3": 7, "debug4": 8,
    "info": 9, "info2": 10, "info3": 11, "info4": 12,
    "warn": 13, "warn2": 14, "warn3": 15, "warn4": 16,
    "error": 17, "error2": 18, "error3": 19, "error4": 20,
    "fatal": 21, "fatal2": 22, "fatal3": 23, "fatal4": 24,
}
SEVERITY_ALIASES = {
    # what the 'default' preset adds to the otel table
    # (severity_builder.go getBuiltinMapping)
    "warning": "warn", "warning2": "warn2", "warning3": "warn3", "warning4": "warn4",
    "err": "error", "err2": "error2", "err3": "error3", "err4": "error4",
}
# canonical text emitted for a given number (upper-case level names, as in
# plog.SeverityNumber String()).
SEVERITY_TEXT = {n: t.upper() for t, n in SEVERITY_NUMBER.items()}

ZERO_TRACE_ID = "0" * 32
ZERO_SPAN_ID = "0" * 16
