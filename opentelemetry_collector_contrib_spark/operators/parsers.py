"""Stanza parser operators (§2.3) as DataFrame stages.

Each parser reads ``parse_from`` (default body), writes a
map<string,string> into ``parse_to`` (default attributes), with the shared
on_error semantics of /root/reference/pkg/stanza/operator/helper/parser.go.
Most are pure Column expressions (whole-stage codegen); grok's default
arrow engine and a few framing/decoding helpers are Arrow-batched UDFs.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import grok as grokmod
from ..functions.timefmt import parse_epoch, parse_strptime
from ..model import SEVERITY_ALIASES, SEVERITY_NUMBER, SEVERITY_TEXT
from .base import get_field, set_parsed


def regex_parser(
    df: DataFrame,
    pattern: str,
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
) -> DataFrame:
    """regex_parser: named-capture-group regex -> map
    (/root/reference/pkg/stanza/operator/parser/regex/parser.go:29-66).
    The reference's optional LRU cache is unnecessary here: Catalyst
    evaluates the compiled regex JVM-side per batch; for pathological
    duplicate-heavy inputs, dedup-before-parse is the Spark analog."""
    from ..functions.ottl import extract_patterns

    src = get_field(df, parse_from)
    return set_parsed(df, extract_patterns(src, pattern), parse_to, on_error)


def grok_parser(
    df: DataFrame,
    pattern: str,
    custom: dict[str, str] | None = None,
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
    impl: str = "arrow",
) -> DataFrame:
    """ExtractGrokPatterns as a parser stage (grok expanded at plan time,
    vectorized extraction; func_extract_grok_patterns.go:18-101)."""
    src = get_field(df, parse_from)
    return set_parsed(df, grokmod.grok_extract(src, pattern, custom, impl), parse_to, on_error)


def json_parser(
    df: DataFrame,
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
    schema: str = "map<string,string>",
    strict: bool = False,
) -> DataFrame:
    """json_parser (/root/reference/pkg/stanza/operator/parser/json/parser.go).

    strict=False (default): JVM from_json — whole-stage codegen, zero
    Python, but a Jackson PREFIX parse: trailing garbage after a
    complete value is silently accepted ('{}x' -> {}). One JSON value
    per line (NDJSON, docker, otlpjson — every real producer) never
    hits the difference. strict=True: reference-exact jsoniter/Go
    semantics (trailing garbage -> parse failure) via the arrow-path
    strict parser; only valid for the map<string,string> schema. Pick
    strict when bit-parity with the collector's error stream matters
    more than keeping the parse inside codegen."""
    src = get_field(df, parse_from)
    if strict:
        if schema != "map<string,string>":
            raise ValueError("strict json_parser supports only map<string,string>")
        from ..functions.vparse import json_map_strict

        return set_parsed(df, json_map_strict(src), parse_to, on_error)
    return set_parsed(df, F.from_json(src, schema), parse_to, on_error)


def csv_parser(
    df: DataFrame,
    header: list[str],
    delimiter: str = ",",
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
) -> DataFrame:
    """csv_parser (/root/reference/pkg/stanza/operator/parser/csv/config.go:39-55)."""
    from ..functions.ottl import parse_csv_

    src = get_field(df, parse_from)
    return set_parsed(df, parse_csv_(src, header, delimiter), parse_to, on_error)


def keyvalue_parser(
    df: DataFrame,
    delimiter: str = "=",
    pair_delimiter: str = " ",
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
) -> DataFrame:
    """key_value_parser (/root/reference/pkg/stanza/operator/parser/keyvalue/config.go:30-53).

    Delegates to ottl.parse_key_value — the same parseutils engine the
    reference's operator calls (parser.go:46-51): quote-aware pair
    splitting, per-pair first-delimiter split with whitespace-trimmed
    keys/values, last-wins duplicates, and per-entry NULL on the
    reference's error cases (empty input, unterminated quote, pair
    without the delimiter) feeding the shared on_error semantics."""
    from ..functions.ottl import parse_key_value

    src = get_field(df, parse_from)
    return set_parsed(df, parse_key_value(src, delimiter, pair_delimiter), parse_to, on_error)


# RFC3164/RFC5424 syslog — library-free regex port of
# /root/reference/pkg/stanza/operator/parser/syslog/config.go:22-82.
_RFC3164 = (
    r"^<(?P<priority>\d{1,3})>"
    r"(?P<timestamp>[A-Z][a-z]{2}\s+\d{1,2} \d{2}:\d{2}:\d{2}) "
    r"(?P<hostname>\S+) "
    r"(?P<appname>[^\[:\s]+)(?:\[(?P<proc_id>\d+)\])?:\s*"
    r"(?P<message>.*)$"
)
_RFC5424 = (
    r"^<(?P<priority>\d{1,3})>(?P<version>\d+) "
    r"(?P<timestamp>\S+) (?P<hostname>\S+) (?P<appname>\S+) "
    r"(?P<proc_id>\S+) (?P<msg_id>\S+) (?P<structured_data>-|(?:\[.*?\])+)\s*"
    r"(?P<message>.*)$"
)


def syslog_parser(
    df: DataFrame,
    protocol: str = "rfc5424",
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
    parse_structured_data: bool = True,
) -> DataFrame:
    """syslog_parser (RFC3164 / RFC5424,
    /root/reference/pkg/stanza/operator/parser/syslog/config.go:22-82).

    RFC5424 STRUCTURED-DATA ([id k="v" ...][id2 ...]) is flattened into
    the attribute map as 'structured_data.<id>.<key>' entries — the flat
    analog of the reference's nested map — entirely JVM-side
    (regexp_extract_all + higher-order transform, no UDF)."""
    from ..functions.ottl import extract_patterns

    pattern = _RFC5424 if protocol == "rfc5424" else _RFC3164
    src = get_field(df, parse_from)
    out = set_parsed(df, extract_patterns(src, pattern), parse_to, on_error)
    if protocol == "rfc5424" and parse_structured_data:
        sd = F.element_at(F.col(parse_to), "structured_data")
        elems = F.regexp_extract_all(sd, F.lit(r"\[(?:[^\]\\]|\\.)*\]"), 0)
        def elem_entries(e):
            sd_id = F.regexp_extract(e, r"^\[([^ \]]+)", 1)
            # single-pass pair extraction: key and value come from the SAME
            # 'k="v"' match, so escaped quotes (\" is legal PARAM-VALUE per
            # RFC5424 6.3.3) cannot desynchronize the key/value arrays
            pairs = F.regexp_extract_all(
                e, F.lit(r'[\w.@-]+="(?:[^"\\]|\\.)*"'), 0
            )
            return F.transform(
                pairs,
                lambda p: F.struct(
                    F.concat(
                        F.lit("structured_data."),
                        sd_id,
                        F.lit("."),
                        F.regexp_extract(p, r'^([\w.@-]+)=', 1),
                    ).alias("k"),
                    F.regexp_replace(  # unescape \" \] \\ (RFC 6.3.3)
                        F.regexp_extract(p, r'^[\w.@-]+="((?:[^"\\]|\\.)*)"$', 1),
                        r'\\([\]"\\])',
                        r"$1",
                    ).alias("v"),
                ),
            )

        # LAST-wins key dedup before building the map: RFC5424 6.3.2
        # permits repeated PARAM-NAMEs (and repeated SD-IDs occur in the
        # wild), and map_concat/map_from_entries ABORT THE JOB on a
        # duplicate key under Spark's default EXCEPTION dedup policy —
        # one legal log line would kill a 100 TB batch. O(pairs^2) per
        # row, with single-digit pair counts in practice.
        ents = F.flatten(F.transform(elems, elem_entries))
        deduped = F.filter(
            ents,
            lambda e, i: ~F.exists(
                F.slice(ents, i + 2, F.size(ents)),
                lambda e2: e2["k"] == e["k"],
            ),
        )
        sd_map = F.map_from_entries(deduped)
        merged = F.when(
            sd.isNotNull() & (sd != "-"),
            F.map_concat(F.col(parse_to), sd_map),
        ).otherwise(F.col(parse_to))
        out = out.withColumn(parse_to, merged)
    # severity from priority: sev = priority & 7, facility = priority >> 3
    # try_cast: the PRI regex bounds digits but not magnitude — a
    # crafted 20-digit <priority> would ANSI-abort the job on plain cast
    pri = F.element_at(F.col(parse_to), "priority").try_cast("int")
    syslog_sev = pri.bitwiseAND(F.lit(7))
    # syslog severity (0=emerg..7=debug) -> OTel severity number; a
    # literal-map probe, not a WHEN chain - CollapseProject would inline
    # the derived syslog_sev tree into every branch (see severity_parser)
    otel = F.coalesce(
        F.element_at(F.create_map(*[F.lit(x) for x in
            [0, 24, 1, 22, 2, 21, 3, 17, 4, 13, 5, 10, 6, 9]]), syslog_sev),
        F.lit(5),
    )
    return (
        out.withColumn("severity_number", F.when(pri.isNotNull(), otel))
        .withColumn("facility", (pri / 8).cast("int"))
    )


# container parser: auto-detect docker-json / containerd / cri-o line formats
# (/root/reference/pkg/stanza/operator/parser/container/parser.go:27-43).
_CONTAINERD_RX = (
    r"^(?P<time>[^ ]+) (?P<stream>stdout|stderr) (?P<logtag>[^ ]*) ?(?P<log>.*)$"
)
_CRIO_RX = _CONTAINERD_RX  # cri-o differs only in time format (no 'Z')
# the reference logpathPattern (parser.go:34): the kubelet pods layout
# /var/log/pods/<namespace>_<pod>_<uid>/<container>/<restart>.log
# — namespace FIRST, uid third, container as its own directory, optional
# rotation suffix. (A pod-first single-segment pattern never matches real
# kubelet paths and the k8s.* metadata would silently come back NULL.)
_K8S_PATH_RX = (
    r"^.*[/\\](?P<namespace>[^_]+)_(?P<pod_name>[^_]+)_(?P<uid>[a-f0-9\-]+)"
    r"[/\\](?P<container_name>[^._]+)[/\\](?P<restart_count>\d+)\.log(?:\.\d{8}-\d{6})?$"
)


def container_parser(
    df: DataFrame,
    parse_from: str = "body",
    parse_to: str = "attributes",
    add_metadata_from_filepath: bool = False,
    filepath_col: str = "log_file_path",
) -> DataFrame:
    """container: detect docker-JSON vs containerd/cri-o, parse, optionally
    extract k8s metadata from the file path. Partial-line recombination for
    logtag='P' is `recombine_partial_lines` in transformers.py."""
    from ..functions.ottl import extract_patterns
    from ..functions.vparse import json_map_strict

    src = get_field(df, parse_from)
    is_docker = src.startswith("{")
    # docker lines need STRICT whole-value JSON (the reference's
    # json.Unmarshal errors on trailing garbage — '{}x' is a parse
    # failure, not {}); from_json is a Jackson prefix-parse and silently
    # accepts it, so the docker subset goes through the strict arrow
    # path. Non-docker rows are masked to NULL so only docker bytes
    # cross the Arrow boundary (same masked-body trick as the hybrid
    # parse impl); the cri-o/containerd regex stays pure JVM.
    docker = json_map_strict(F.when(is_docker, src))
    crio = extract_patterns(src, _CONTAINERD_RX)
    parsed = F.when(is_docker, docker).otherwise(crio)
    out = set_parsed(df, parsed, parse_to)
    if add_metadata_from_filepath and filepath_col in df.columns:
        meta = extract_patterns(F.col(filepath_col), _K8S_PATH_RX)
        keys = [
            ("k8s.pod.name", "pod_name"),
            ("k8s.namespace.name", "namespace"),
            ("k8s.pod.uid", "uid"),
            ("k8s.container.name", "container_name"),
            ("k8s.container.restart_count", "restart_count"),
        ]
        key_arr = F.array(*[F.lit(k) for k, _ in keys])
        k8s_map = F.map_from_arrays(
            key_arr, F.array(*[F.element_at(meta, g) for _, g in keys])
        )
        # only on a successful path match (the reference writes nothing
        # otherwise): an unconditional concat would pollute EVERY record's
        # attributes with five NULL-valued k8s.* keys on non-k8s paths.
        # Upsert semantics: pre-existing k8s.* keys are replaced, never
        # duplicated (map_concat duplicates abort the job under the
        # default EXCEPTION dedup policy).
        out = out.withColumn(
            parse_to,
            F.when(
                meta.isNotNull(),
                F.map_concat(
                    F.map_filter(
                        F.coalesce(
                            F.col(parse_to),
                            F.create_map().cast("map<string,string>"),
                        ),
                        lambda k, _: ~F.array_contains(key_arr, k),
                    ),
                    k8s_map,
                ),
            ).otherwise(F.col(parse_to)),
        )
    return out


def time_parser(
    df: DataFrame,
    parse_from: str,
    layout: str,
    layout_type: str = "strptime",
    out_col: str = "timestamp",
    location: str | None = None,
) -> DataFrame:
    """time_parser (/root/reference/pkg/stanza/operator/helper/time.go:20-27):
    strptime | gotime (translated by caller) | epoch layouts.

    `location` (time.go:44,119-122): an IANA zone the wall-clock fields
    of a ZONE-LESS layout are interpreted in (Go's ParseInLocation) —
    pass it only for layouts without a zone directive, exactly the case
    where ParseInLocation's location takes effect. Validated at plan
    time like the reference's config load ('failed to load location');
    an unvalidated name would ANSI-abort at runtime instead. An epoch
    value is already an instant: the reference ignores `location` for
    epoch layouts (still validating the name), and so does this."""
    src = get_field(df, parse_from)
    if layout_type == "epoch":
        ts = parse_epoch(src, layout)
    else:
        ts = parse_strptime(src, layout)
    if location:
        import zoneinfo

        try:
            zoneinfo.ZoneInfo(location)
        except Exception as e:
            raise ValueError(f"failed to load location {location}: {e}") from e
        if layout_type != "epoch":
            ts = F.to_utc_timestamp(ts, location)
    return df.withColumn(out_col, ts)


def severity_parser(
    df: DataFrame,
    parse_from: str,
    mapping: dict[str, int] | None = None,
    out_number: str = "severity_number",
    out_text: str = "severity_text",
    preset: str = "default",
) -> DataFrame:
    """severity_parser (/root/reference/pkg/stanza/operator/helper/severity_builder.go):
    text (case-insensitive, aliases) -> severity number + canonical text.
    Implemented as a literal CASE chain (small closed domain -> no join).

    preset (severity_builder.go:18-22,116): 'none' = only the user
    mapping; 'otel'/'aliases' = the 24 OTel level names plus their
    stringified numbers ('1'..'24'); 'default' = that table plus
    warning/warning2-4 and err/err2-4."""
    if preset == "none":
        table: dict[str, int] = {}
    elif preset in ("otel", "aliases", "default"):
        table = dict(SEVERITY_NUMBER)
        if preset == "default":
            table.update({a: SEVERITY_NUMBER[t] for a, t in SEVERITY_ALIASES.items()})
        # numeric keys last: element_at on a literal map scans its keys in
        # order, and level names are what log lines carry
        table.update({str(v): v for v in SEVERITY_NUMBER.values()})
    else:
        raise ValueError(f"unknown severity preset {preset!r}")
    if mapping:
        for k, v in mapping.items():
            # the reference's special range keys (severity_builder.go:
            # 95-112, 200-217): '2xx'..'5xx' expand to the literal
            # status strings 200..299 etc., and a (min, max) tuple is
            # the {min:, max:} range form — expanded at PLAN time into
            # the same literal-map probe, zero runtime cost
            if isinstance(k, tuple):
                lo, hi = (int(k[0]), int(k[1])) if k[0] <= k[1] else (int(k[1]), int(k[0]))
                for s in range(lo, hi + 1):
                    table[str(s)] = v
                continue
            kl = str(k).lower()
            if re.fullmatch(r"[2-5]xx", kl):
                lo = int(kl[0]) * 100
                for s in range(lo, lo + 100):
                    table[str(s)] = v
            else:
                table[kl] = v
    src = F.lower(get_field(df, parse_from))
    # literal-map lookups, NOT a chained CASE: CollapseProject inlines the
    # source expression into every WHEN branch, so a 30+-way chain over a
    # derived column re-evaluates that column's whole tree per branch
    # (measured 3x the entire parse stage on the fused pipeline); a map
    # probe evaluates the source once
    num_map = F.create_map(
        *[F.lit(x) for kv in table.items() for x in kv]
    )
    num = F.coalesce(F.element_at(num_map, src), F.lit(0))
    text_map = F.create_map(
        *[F.lit(x) for kv in SEVERITY_TEXT.items() for x in kv]
    )
    text_col = F.coalesce(F.element_at(text_map, num), F.lit(""))
    return df.withColumn(out_number, num.cast("int")).withColumn(out_text, text_col)


def trace_parser(
    df: DataFrame,
    trace_id_from: str | None = None,
    span_id_from: str | None = None,
    flags_from: str | None = None,
) -> DataFrame:
    """trace_parser (/root/reference/pkg/stanza/operator/parser/trace/config.go:13):
    project hex trace/span ids + flags into the canonical columns."""
    out = df
    if trace_id_from:
        out = out.withColumn("trace_id", F.lower(get_field(df, trace_id_from)))
    if span_id_from:
        out = out.withColumn("span_id", F.lower(get_field(df, span_id_from)))
    if flags_from:
        # try_cast: flags ride in on arbitrary record data; one "zz"
        # must NULL that record's flags, not ANSI-abort the job
        out = out.withColumn("flags", get_field(df, flags_from).try_cast("int"))
    return out


def uri_parser(
    df: DataFrame,
    parse_from: str = "body",
    parse_to: str = "attributes",
) -> DataFrame:
    """uri_parser (/root/reference/pkg/stanza/operator/parser/uri/config.go:13):
    scheme/user/host/port/path breakdown via parse_url (JVM-side), plus
    the reference's query-parameter map (parseutils/uri.go:100-160:
    urlToMap ends in queryToMap over url.Values) flattened to
    'query.<param>' keys — percent/plus-decoded, repeated parameters
    comma-joined (the flat analog of the reference's value list),
    malformed pairs dropped like url.Values.Query() drops ParseQuery
    errors. The raw query string stays under 'query' (flat-model
    convenience; the suite oracles read it)."""
    src = get_field(df, parse_from)
    q = F.try_parse_url(src, F.lit("QUERY"))
    raw_pairs = F.filter(F.split(q, "&"), lambda p: p != "")
    dec = F.filter(
        F.transform(
            raw_pairs,
            lambda p: F.struct(
                F.try_url_decode(F.get(F.split(p, "=", 2), 0)).alias("k"),
                F.try_url_decode(F.coalesce(F.get(F.split(p, "=", 2), 1), F.lit(""))).alias("v"),
            ),
        ),
        lambda e: e["k"].isNotNull() & e["v"].isNotNull(),
    )
    # first occurrence of each param carries ALL its values comma-joined
    qents = F.transform(
        F.filter(
            dec,
            lambda e, i: ~F.exists(F.slice(dec, 1, i), lambda e2: e2["k"] == e["k"]),
        ),
        lambda e: F.struct(
            F.concat(F.lit("query."), e["k"]).alias("key"),
            F.array_join(
                F.transform(
                    F.filter(dec, lambda e2: e2["k"] == e["k"]), lambda x: x["v"]
                ),
                ",",
            ).alias("value"),
        ),
    )
    # Java URI parse failed on every component -> the reference's
    # url.ParseRequestURI error -> NULL map (on_error), not {}. Note one
    # documented divergence: Java validates the whole URI, so a bad
    # %-escape in the query fails ALL components where Go salvages the
    # non-query parts and drops only the bad pair.
    ok = F.coalesce(
        F.try_parse_url(src, F.lit("PROTOCOL")),
        F.try_parse_url(src, F.lit("HOST")),
        F.try_parse_url(src, F.lit("PATH")),
        q,
    ).isNotNull()
    parsed = F.map_concat(
        F.map_filter(
            F.map_from_arrays(
                F.array(
                    F.lit("scheme"), F.lit("user"), F.lit("host"),
                    F.lit("port"), F.lit("path"), F.lit("query"),
                ),
                F.array(
                    F.try_parse_url(src, F.lit("PROTOCOL")),
                    F.nullif(
                        F.get(F.split(F.try_parse_url(src, F.lit("USERINFO")), ":", 2), 0),
                        F.lit(""),
                    ),
                    F.try_parse_url(src, F.lit("HOST")),
                    # try_parse_url everywhere: ANSI parse_url ABORTS THE JOB on one
                    # invalid URL ('%zz' escape) where url.ParseRequestURI errors
                    # that entry. PORT is also unreliable; derive from AUTHORITY
                    F.nullif(F.regexp_extract(F.try_parse_url(src, F.lit("AUTHORITY")), r":(\d+)$", 1), F.lit("")),
                    F.try_parse_url(src, F.lit("PATH")),
                    q,
                ),
            ),
            lambda _, v: v.isNotNull(),
        ),
        F.map_from_entries(F.coalesce(qents, F.array().cast("array<struct<key:string,value:string>>"))),
    )
    return set_parsed(df, F.when(ok, parsed), parse_to)


def scope_name_parser(df: DataFrame, parse_from: str, out_col: str = "scope_name") -> DataFrame:
    """scope_name_parser (/root/reference/pkg/stanza/operator/parser/scope/config.go:13)."""
    return df.withColumn(out_col, get_field(df, parse_from))


def jsonarray_parser(
    df: DataFrame,
    parse_from: str = "body",
    parse_to: str = "parsed_array",
    element_type: str = "string",
) -> DataFrame:
    """jsonarray_parser (/root/reference/pkg/stanza/operator/parser/jsonarray/config.go)."""
    src = get_field(df, parse_from)
    return df.withColumn(parse_to, F.from_json(src, f"array<{element_type}>"))


# ---------------------------------------------------------------------------
# syslog stream framing (tcp input framing modes,
# /root/reference/pkg/stanza/operator/input/syslog/config.go:60-101 —
# octet counting and non-transparent framing)
# ---------------------------------------------------------------------------


def deframe_octet_counting(
    df: DataFrame, col: str = "body", out_col: str = "body"
) -> DataFrame:
    """Octet-counting framing (RFC6587 §3.4.1): each frame is
    '<len> <len bytes of message>' and frames are concatenated. Splits a
    raw chunk column into one row per frame.

    JVM-side: an unrolled split loop can't express variable-length jumps,
    so this is the one framing helper that uses a pandas UDF (Arrow
    batches; the per-chunk loop is bounded by frames-per-chunk)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.StringType()))
    def _frames(s: pd.Series) -> pd.Series:
        def one(chunk: str):
            # RFC6587 counts OCTETS, not characters: slice on the UTF-8
            # encoding, else any non-ASCII message desynchronizes every
            # subsequent frame in the chunk (the multi-byte chars make
            # the char-based jump land short, swallowing the next
            # frame's length prefix)
            raw = chunk.encode("utf-8")
            out = []
            i, n = 0, len(raw)
            while i < n:
                sp = raw.find(b" ", i)
                if sp == -1 or not raw[i:sp].isdigit():
                    # trailing garbage: emit the remainder as-is (the
                    # reference's tcp input forwards undecodable frames)
                    out.append(raw[i:].decode("utf-8", errors="replace"))
                    break
                ln = int(raw[i:sp])
                out.append(raw[sp + 1 : sp + 1 + ln].decode("utf-8", errors="replace"))
                i = sp + 1 + ln
            return out

        return s.map(one, na_action="ignore")

    return (
        df.withColumn("__frames", _frames(F.col(col)))
        .withColumn(out_col, F.explode("__frames"))
        .drop("__frames")
    )


def deframe_non_transparent(
    df: DataFrame, col: str = "body", out_col: str = "body", trailer: str = "\n"
) -> DataFrame:
    """Non-transparent framing (RFC6587 §3.4.2): frames separated by a
    trailer character (LF default, NUL supported). Pure JVM split+explode."""
    import re as _re

    parts = F.split(F.col(col), _re.escape(trailer))
    return (
        df.withColumn("__frames", F.filter(parts, lambda x: x != ""))
        .withColumn(out_col, F.explode("__frames"))
        .drop("__frames")
    )


def journald_parser(
    df: DataFrame,
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
) -> DataFrame:
    """journald input, parse stage (/root/reference/pkg/stanza/operator/
    input/journald/input.go:208-259): each line is one `journalctl -o
    json` object. The subprocess half of the reference input is a host
    concern (journalctl reads the local binary journal); the parse half —
    what turns its output into entries — is this operator, applied to
    lines from any transport (file, socket stream, kafka).

    Mapping (like the reference): __REALTIME_TIMESTAMP (us) -> ts,
    __CURSOR -> cursor (the resume offset the checkpoint persists),
    MESSAGE -> message, PRIORITY (syslog severity 0-7) -> OTel
    severity_number, remaining fields -> the attribute map. Rows missing
    the timestamp or cursor are parse FAILURES (NULL map -> on_error
    semantics), exactly like the Go error returns."""
    src = get_field(df, parse_from)
    raw = F.from_json(src, "map<string,string>")
    # try_cast, NOT cast: Spark 4 ANSI aborts the whole job on one
    # malformed row (CAST_INVALID_INPUT) — a digits-only timestamp above
    # long range ('9'*23 passes the rlike) or a non-numeric PRIORITY
    # ('high') must fail THAT entry like the reference's strconv error,
    # not kill the stream
    us = F.element_at(raw, "__REALTIME_TIMESTAMP").try_cast("long")
    ok = (
        raw.isNotNull()
        & F.map_contains_key(raw, "__REALTIME_TIMESTAMP")
        & F.map_contains_key(raw, "__CURSOR")
        & F.element_at(raw, "__REALTIME_TIMESTAMP").rlike("^[0-9]+$")
        & us.isNotNull()
    )
    parsed = F.when(ok, F.map_filter(raw, lambda k, _: k != "__REALTIME_TIMESTAMP"))
    out = set_parsed(df, parsed, parse_to, on_error)
    pri = F.element_at(F.col(parse_to), "PRIORITY").try_cast("int")
    # syslog severity (0=emerg..7=debug) -> OTel severity number (same
    # table as syslog_parser; literal-map probe for the same
    # CollapseProject reason). try_element_at: ANSI element_at raises
    # MAP_KEY_DOES_NOT_EXIST for an out-of-range PRIORITY like "9" —
    # journald fields are arbitrary strings, unlike syslog's pri%8
    otel = F.try_element_at(
        F.create_map(*[F.lit(x) for x in
            [0, 24, 1, 22, 2, 21, 3, 17, 4, 13, 5, 10, 6, 9, 7, 5]]), pri
    )
    return (
        out.withColumn("ts", F.when(ok, F.timestamp_micros(us)))
        .withColumn("cursor", F.element_at(F.col(parse_to), "__CURSOR"))
        .withColumn("message", F.element_at(F.col(parse_to), "MESSAGE"))
        .withColumn("severity_number", otel)
    )


def windows_event_parser(
    df: DataFrame,
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
) -> DataFrame:
    """Windows Event Log XML parser (/root/reference/pkg/stanza/operator/
    input/windows/xml.go:15-171): the rendered-event-XML half of the
    windowseventlogreceiver (the Windows evt subscription API half is a
    host concern). One rendered <Event> XML document per row -> the flat
    attribute map the reference's formattedBody builds, with the same
    rendered-vs-System fallbacks (Level/Task/Opcode/Keywords), dotted
    keys for the nested groups, and event_data.<Name> entries. Severity:
    RenderingInfo Level name, else numeric System Level (1 Critical ->
    fatal .. 4 Information -> info), as OTel numbers. Arrow-batched
    stdlib-ElementTree UDF (XML needs a real parser, same judgement as
    functions/xmlfuncs.py)."""
    import xml.etree.ElementTree as ET

    from pyspark.sql.functions import pandas_udf

    def parse_one(x: str):
        try:
            root = ET.fromstring(x)
        except ET.ParseError:
            return None
        # namespace-insensitive lookups (events carry the evt schema ns)
        def local(tag):
            return tag.rsplit("}", 1)[-1]

        def find(parent, name):
            for ch in parent:
                if local(ch.tag) == name:
                    return ch
            return None

        if local(root.tag) != "Event":
            return None
        system = find(root, "System")
        if system is None:
            return None
        rendering = find(root, "RenderingInfo")
        out: dict[str, str] = {}

        def put(k, v):
            if v is not None and v != "":
                out[k] = v

        def text(parent, name):
            el = find(parent, name) if parent is not None else None
            return None if el is None else (el.text or "")

        eid = find(system, "EventID")
        if eid is not None:
            put("event_id.id", eid.text)
            put("event_id.qualifiers", eid.get("Qualifiers"))
        prov = find(system, "Provider")
        if prov is not None:
            put("provider.name", prov.get("Name"))
            put("provider.guid", prov.get("Guid"))
            put("provider.event_source", prov.get("EventSourceName"))
        tc = find(system, "TimeCreated")
        if tc is not None:
            put("system_time", tc.get("SystemTime"))
        put("computer", text(system, "Computer"))
        put("channel", text(system, "Channel"))
        put("record_id", text(system, "EventRecordID"))
        # rendered values win; System values are the fallback (xml.go:78-96)
        for name in ("Level", "Task", "Opcode"):
            rendered = text(rendering, name)
            put(name.lower(), rendered if rendered else text(system, name))
        kw_parent = find(rendering, "Keywords") if rendering is not None else None
        if kw_parent is not None:
            kws = [k.text or "" for k in kw_parent if local(k.tag) == "Keyword"]
        else:
            kw = text(system, "Keywords")
            kws = [kw] if kw else []
        if kws:
            put("keywords", ",".join(kws))
        put("message", text(rendering, "Message"))
        sec = find(system, "Security")
        if sec is not None:
            put("security.user_id", sec.get("UserID"))
        ex = find(system, "Execution")
        if ex is not None:
            put("execution.process_id", ex.get("ProcessID"))
            put("execution.thread_id", ex.get("ThreadID"))
        ed = find(root, "EventData")
        if ed is not None:
            put("event_data.name", ed.get("Name"))
            for d in ed:
                if local(d.tag) == "Data":
                    put(f"event_data.{d.get('Name') or 'value'}", d.text or "")
                elif local(d.tag) == "Binary":
                    put("event_data.binary", d.text or "")
        return out

    @pandas_udf("map<string,string>")
    def _parse(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else parse_one(x))

    src = get_field(df, parse_from)
    # nondeterministic: an on_error filter is not pushed below the parse,
    # so the UDF runs once per row (see functions/grok.py)
    out = set_parsed(df, _parse.asNondeterministic()(src), parse_to, on_error)
    level_name = F.element_at(F.col(parse_to), "level")
    sev = (
        F.when(level_name.isin("Critical", "1"), 21)
        .when(level_name.isin("Error", "2"), 17)
        .when(level_name.isin("Warning", "3"), 13)
        .when(level_name.isin("Information", "4"), 9)
        .otherwise(F.lit(None).cast("int"))
    )
    return out.withColumn("severity_number", sev).withColumn(
        # try_to_timestamp: a malformed TimeCreated/SystemTime string in
        # one event must NULL that entry's ts, not ANSI-abort the job
        "ts",
        F.try_to_timestamp(F.element_at(F.col(parse_to), "system_time")),
    )
