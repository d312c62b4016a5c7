"""OTTL editors & converters re-expressed as Spark Column functions.

The reference's OTTL language (/root/reference/pkg/ottl, LANGUAGE.md) is
``editor(args...) [where condition]`` executed by a per-record interpreter.
Here a statement is a declarative Column expression pipeline: the parse/plan
steps happen on the driver, Catalyst is the executor, and the per-record
interpreter disappears (SURVEY.md §3.2).

Editors registry parity: /root/reference/pkg/ottl/ottlfuncs/functions.go:12-27.
Converters registry parity: functions.go:38-133.
Naming: lower_snake of the OTTL name (``ParseJSON`` -> ``parse_json_``) with a
trailing underscore only where Python/pyspark collides.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashes import fnv1a64  # noqa: F401  (exported: FNV converter)

# ---------------------------------------------------------------------------
# Editors over map<string,string> columns
# ---------------------------------------------------------------------------


def set_key(m: Column, key: str, value: Column) -> Column:
    """set(target[key], value) — upsert one key (func_set.go)."""
    return F.map_concat(
        F.map_filter(m, lambda k, _: k != F.lit(key)),
        F.map_from_arrays(F.array(F.lit(key)), F.array(value.cast("string"))),
    )


def delete_key(m: Column, key: str) -> Column:
    return F.map_filter(m, lambda k, _: k != F.lit(key))


def delete_matching_keys(m: Column, pattern: str) -> Column:
    return F.map_filter(m, lambda k, _: ~k.rlike(pattern))


def keep_matching_keys(m: Column, pattern: str) -> Column:
    return F.map_filter(m, lambda k, _: k.rlike(pattern))


def keep_keys(m: Column, keys: list[str]) -> Column:
    arr = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(m, lambda k, _: F.array_contains(arr, k))


def limit_map(m: Column, n: int, priority_keys: list[str] | None = None) -> Column:
    """limit(target, n, priority_keys) — cap entry count, priority keys kept
    first (func_limit.go). Deterministic: non-priority entries sorted by key."""
    pk = priority_keys or []
    arr = F.array(*[F.lit(k) for k in pk]) if pk else F.array().cast("array<string>")
    entries = F.map_entries(m)
    prio = F.filter(entries, lambda e: F.array_contains(arr, e["key"])) if pk else F.array().cast(
        "array<struct<key:string,value:string>>"
    )
    rest = F.array_sort(F.filter(entries, lambda e: ~F.array_contains(arr, e["key"])))
    merged = F.concat(prio, rest) if pk else rest
    return F.map_from_entries(F.slice(merged, 1, n))


def merge_maps(target: Column, source: Column, strategy: str = "upsert") -> Column:
    """merge_maps with insert/update/upsert strategies (func_merge_maps.go)."""
    if strategy == "upsert":
        # source wins on conflict
        return F.map_concat(
            F.map_filter(target, lambda k, _: ~F.array_contains(F.map_keys(source), k)), source
        )
    if strategy == "insert":
        # only keys absent from target
        return F.map_concat(
            target, F.map_filter(source, lambda k, _: ~F.array_contains(F.map_keys(target), k))
        )
    if strategy == "update":
        # only keys already present in target (map_zip_with alone would
        # also emit source-only keys with a null target value)
        merged = F.map_zip_with(target, source, lambda _, tv, sv: F.coalesce(sv, tv))
        return F.map_filter(merged, lambda k, _: F.array_contains(F.map_keys(target), k))
    raise ValueError(f"unknown merge_maps strategy {strategy!r}")


def truncate_all(m: Column, n: int) -> Column:
    """truncate_all(target, n) — cap every string value to n chars."""
    return F.transform_values(m, lambda _, v: F.substring(v, 1, n))


def flatten_map(m: Column, inner: Column, prefix: str) -> Column:
    """flatten — promote entries of ``inner`` into ``m`` under ``prefix.key``."""
    promoted = F.transform_keys(inner, lambda k, _: F.concat(F.lit(prefix + "."), k))
    return F.map_concat(F.map_filter(m, lambda k, _: ~F.array_contains(F.map_keys(promoted), k)), promoted)


def append_list(target: Column, value: Column) -> Column:
    """append(target, value) — array append (func_append.go)."""
    return F.concat(target, F.array(value))


# string-value replace family (func_replace_*.go). replace_match uses glob
# patterns; translate glob -> regex anchored.


def _glob_to_regex(glob: str) -> str:
    out = "^"
    for c in glob:
        if c == "*":
            out += ".*"
        elif c == "?":
            out += "."
        else:
            out += re.escape(c)
    return out + "$"


def replace_match(col: Column, glob: str, replacement: Column | str) -> Column:
    rep = F.lit(replacement) if isinstance(replacement, str) else replacement
    return F.when(col.rlike(_glob_to_regex(glob)), rep).otherwise(col)


def replace_pattern(col: Column, pattern: str, replacement: str) -> Column:
    return F.regexp_replace(col, pattern, replacement)


def replace_all_matches(m: Column, glob: str, replacement: str) -> Column:
    rx = _glob_to_regex(glob)
    return F.transform_values(m, lambda _, v: F.when(v.rlike(rx), F.lit(replacement)).otherwise(v))


def replace_all_patterns(m: Column, pattern: str, replacement: str) -> Column:
    return F.transform_values(m, lambda _, v: F.regexp_replace(v, pattern, replacement))


# ---------------------------------------------------------------------------
# Converters (functions.go:38-133), grouped as in SURVEY.md §2.5
# ---------------------------------------------------------------------------

# Parse family
def parse_json_(col: Column, schema: str | T.DataType = "map<string,string>") -> Column:
    return F.from_json(col, schema)


def parse_csv_(col: Column, header: list[str], delimiter: str = ",") -> Column:
    """CSV line -> map, with Go encoding/csv quote semantics (the stanza
    csv parser's engine): a field may be RFC-4180 quoted ('"a,b"' keeps
    the delimiter, '""' unescapes to '"'), and a line with a stray or
    unterminated quote is a parse FAILURE (NULL map -> on_error), like
    encoding/csv's per-record error. Lines without a quote char take the
    plain-split fast path — one branch, all JVM. Short rows pad with
    NULL via try_element_at (a plain slice would feed map_from_arrays
    unequal arrays and ABORT THE JOB on the first short row)."""
    d = re.escape(delimiter)
    simple = F.split(col, d)
    if len(delimiter) == 1 and delimiter != '"':
        fld = f'"(?:[^"]|"")*"|[^"{d}]*'
        valid = col.rlike(f"^(?:{fld})(?:{d}(?:{fld}))*$")
        # tokenize a delimiter-prefixed copy: every match then starts with
        # the delimiter and has width >= 1. Matching `^` on the raw line
        # lets an empty first field match with zero width, and the scan
        # then steps past the delimiter after it (',x,"y"' loses 'x').
        toks = F.regexp_extract_all(F.concat(F.lit(delimiter), col), F.lit(f"{d}({fld})"), 1)
        unq = F.transform(
            toks,
            lambda t: F.when(
                t.startswith('"'),
                F.regexp_replace(t.substr(F.lit(2), F.length(t) - 2), '""', '"'),
            ).otherwise(t),
        )
        parts = F.when(~col.contains('"'), simple).otherwise(F.when(valid, unq))
    else:  # multi-char delimiters have no encoding/csv analog: split only
        parts = simple
    vals = F.array(
        *[F.try_element_at(parts, F.lit(i + 1)) for i in range(len(header))]
    )
    return F.when(
        parts.isNotNull(),
        F.map_from_arrays(F.array(*[F.lit(h) for h in header]), vals),
    )


# sentinels for the escape-aware quote strip (private-use codepoints; an
# input containing them would confuse the round-trip — not a character
# any log line carries)
_KV_S1, _KV_S2, _KV_S3 = "\ue000", "\ue001", "\ue002"


def parse_key_value(col: Column, delimiter: str = "=", pair_delimiter: str = " ") -> Column:
    """ParseKeyValue / stanza keyvalue semantics — the reference's
    parseutils engine (internal/coreinternal/parseutils/parser.go:17-81,
    shared by func_parse_key_value.go and the stanza keyvalue parser):

    - pair splitting is QUOTE-AWARE: '"a b"' and "'a b'" spans absorb
      pair delimiters; the delimiting quotes are dropped, quotes of the
      other kind inside a span are kept, and backslash-escaped quotes
      stay verbatim (SplitString's escape state machine);
    - leading/trailing/consecutive pair delimiters produce no tokens;
    - each pair splits on the FIRST key/value delimiter; key and value
      are whitespace-trimmed (ParseKeyValuePairs:75-76);
    - duplicate keys last-wins (map assignment);
    - FAILURES are per-entry NULLs, matching the reference's errors:
      empty input, an unterminated quote ('never reached the end of a
      quoted value'), or a pair without the delimiter.

    All JVM column expressions: one tokenizer regexp_extract_all +
    per-token sentinel-protected quote strip — no Python."""
    if not delimiter or not pair_delimiter:
        raise ValueError("delimiter and pair_delimiter must be non-empty")
    if any(q in pair_delimiter for q in "\"'\\"):
        raise ValueError("pair_delimiter may not contain quote or escape characters")
    pd = re.escape(pair_delimiter)
    dq = r'"(?:\\.|[^"\\])*"'
    sq = r"'(?:\\.|[^'\\])*'"
    token = rf"(?:{dq}|{sq}|\\[\"']|(?!{pd})[^\"'])+"
    shape_ok = col.rlike(rf"^(?:{pd}|{token})*$") & (col != "")
    # \G-anchored: each token must start at position 0 or right after
    # the previous match — an unanchored scan could resume MID-delimiter
    # and grow a bogus token from a multi-char pair delimiter's tail
    # (caught by the Go 'complicated delimiters' vector)
    toks = F.regexp_extract_all(col, F.lit(rf"\G(?:{pd})*({token})"), 1)

    def strip_quotes(t):
        # protect escaped pairs, drop span-delimiting quotes (keeping the
        # span interior incl. other-kind quotes), restore escapes — the
        # flat equivalent of SplitString's quote/escape state machine
        s = F.replace(t, F.lit("\\\\"), F.lit(_KV_S1))
        s = F.replace(s, F.lit('\\"'), F.lit(_KV_S2))
        s = F.replace(s, F.lit("\\'"), F.lit(_KV_S3))
        s = F.regexp_replace(s, "\"([^\"]*)\"|'([^']*)'", "$1$2")
        s = F.replace(s, F.lit(_KV_S3), F.lit("\\'"))
        s = F.replace(s, F.lit(_KV_S2), F.lit('\\"'))
        return F.replace(s, F.lit(_KV_S1), F.lit("\\\\"))

    def ent(t):
        kv = F.split(strip_quotes(t), re.escape(delimiter), 2)
        return F.struct(
            F.regexp_replace(F.get(kv, 0), r"^\s+|\s+$", "").alias("key"),
            F.regexp_replace(F.get(kv, 1), r"^\s+|\s+$", "").alias("value"),
        )

    ents = F.transform(toks, ent)
    pairs_ok = F.forall(ents, lambda e: e["value"].isNotNull())
    deduped = F.filter(
        ents,
        lambda e, i: ~F.exists(
            F.slice(ents, i + 2, F.size(ents)), lambda e2: e2["key"] == e["key"]
        ),
    )
    return F.when(shape_ok & pairs_ok, F.map_from_entries(deduped))


def extract_patterns(col: Column, pattern: str) -> Column:
    """ExtractPatterns — named capture groups -> map<string,string>
    (func_extract_patterns.go). JVM-side: one regexp_extract per group."""
    if not re.search(r"\(\?P?<[A-Za-z_][A-Za-z0-9_]*>", pattern):
        raise ValueError("pattern has no named capture groups")
    # Java group names can't contain '_' etc. — strip names entirely for the
    # JVM pattern (named groups share numbering with plain ones, so indices
    # are unchanged) and extract by index.
    from .rxutil import strip_named_groups

    spark_pat, name_list = strip_named_groups(pattern)
    keys, vals = [], []
    for idx, name in name_list:
        keys.append(F.lit(name))
        vals.append(F.regexp_extract(col, spark_pat, idx))
    m = F.map_filter(
        F.map_from_arrays(F.array(*keys), F.array(*vals)),
        # regexp_extract can't distinguish a non-participating group from an
        # empty match; drop '' like the reference omits absent groups
        lambda _, v: v != "",
    )
    # NULL on a non-matching row (reference returns no result; parser
    # on_error='drop' semantics depend on this — base.set_parsed)
    return F.when(col.rlike(spark_pat), m).otherwise(
        F.lit(None).cast("map<string,string>")
    )


def url_(col: Column) -> Column:
    """URL converter -> semconv url.* map (func_url.go): scheme/domain/
    path/original always present; port, query, and fragment only when the
    URL has them (the reference omits absent components). try_parse_url:
    ANSI parse_url ABORTS THE JOB on one invalid URL (bad %-escape)
    where net/url.Parse errors that record. Spark's parse_url PORT
    returns NULL, so the port is derived from the AUTHORITY instead."""
    port = F.regexp_extract(
        F.coalesce(F.try_parse_url(col, F.lit("AUTHORITY")), F.lit("")), r":(\d+)$", 1
    )
    full = F.map_from_arrays(
        F.array(
            F.lit("url.scheme"),
            F.lit("url.domain"),
            F.lit("url.port"),
            F.lit("url.path"),
            F.lit("url.query"),
            F.lit("url.fragment"),
            F.lit("url.original"),
        ),
        F.array(
            F.coalesce(F.try_parse_url(col, F.lit("PROTOCOL")), F.lit("")),
            F.coalesce(F.try_parse_url(col, F.lit("HOST")), F.lit("")),
            port,
            F.coalesce(F.try_parse_url(col, F.lit("PATH")), F.lit("")),
            F.coalesce(F.try_parse_url(col, F.lit("QUERY")), F.lit("")),
            F.coalesce(F.try_parse_url(col, F.lit("REF")), F.lit("")),
            col,
        ),
    )
    keep_always = F.array(
        F.lit("url.scheme"), F.lit("url.domain"), F.lit("url.path"), F.lit("url.original")
    )
    return F.map_filter(
        full, lambda k, v: F.array_contains(keep_always, k) | (v != "")
    )


# String family
concat_ = F.concat_ws
split_ = F.split
substring_ = F.substring
format_ = F.format_string


def trim_(col: Column, cutset: str = " ") -> Column:
    return F.trim(col) if cutset == " " else F.regexp_replace(
        F.regexp_replace(col, f"^[{re.escape(cutset)}]+", ""), f"[{re.escape(cutset)}]+$", ""
    )


def trim_prefix(col: Column, prefix: str) -> Column:
    return F.when(
        col.startswith(prefix), col.substr(F.lit(len(prefix) + 1), F.length(col))
    ).otherwise(col)


def trim_suffix(col: Column, suffix: str) -> Column:
    return F.when(col.endswith(suffix), col.substr(F.lit(1), F.length(col) - len(suffix))).otherwise(col)


to_upper_case = F.upper
to_lower_case = F.lower


def to_snake_case(col: Column) -> Column:
    return F.lower(F.regexp_replace(F.regexp_replace(col, r"([a-z0-9])([A-Z])", r"$1_$2"), r"[\s\-]+", "_"))


def to_camel_case(col: Column) -> Column:
    # split on _/-/space, capitalize each part, join
    return F.array_join(
        F.transform(F.split(col, r"[\s_\-]+"), lambda p: F.initcap(F.lower(p))), ""
    )


def has_prefix(col: Column, p: str) -> Column:
    return col.startswith(p)


def has_suffix(col: Column, s: str) -> Column:
    return col.endswith(s)


def is_match(col: Column, pattern: str) -> Column:
    return col.rlike(pattern)


def len_(col: Column) -> Column:
    return F.length(col)


def to_key_value_string(m: Column, delimiter: str = "=", pair_delimiter: str = " ", sort_keys: bool = True) -> Column:
    entries = F.map_entries(m)
    if sort_keys:
        entries = F.array_sort(entries)
    return F.array_join(
        F.transform(entries, lambda e: F.concat(e["key"], F.lit(delimiter), e["value"])), pair_delimiter
    )


# Hash/encode family
md5_ = F.md5
sha1_ = F.sha1


def sha256_(col: Column) -> Column:
    return F.sha2(col, 256)


def sha512_(col: Column) -> Column:
    return F.sha2(col, 512)


hex_ = F.hex


def base64_decode(col: Column) -> Column:
    # try_to_binary: unbase64 throws java.lang.IllegalArgumentException on
    # invalid base64 and aborts the job; the converter contract is a
    # per-record NULL
    return F.try_to_binary(col, F.lit("base64")).cast("string")


def xxh64(col: Column) -> Column:
    return F.xxhash64(col)


# Time family
def time_(col: Column, fmt: str) -> Column:
    from .timefmt import parse_strptime

    return parse_strptime(col, fmt)


def format_time(col: Column, fmt: str) -> Column:
    from .timefmt import strptime_to_java

    return F.date_format(col, strptime_to_java(fmt))


def truncate_time(col: Column, unit: str) -> Column:
    return F.date_trunc(unit, col)


def unix_seconds(col: Column) -> Column:
    return col.cast("long")


def unix_milli(col: Column) -> Column:
    return (col.cast("double") * 1000).cast("long")


def unix_micro(col: Column) -> Column:
    return (col.cast("double") * 1_000_000).cast("long")


def unix_nano(col: Column) -> Column:
    from .timefmt import epoch_nanos

    return epoch_nanos(col)


now_ = F.current_timestamp
year_, month_, day_ = F.year, F.month, F.dayofmonth
hour_, minute_, second_ = F.hour, F.minute, F.second


def weekday_(col: Column) -> Column:
    """Weekday (func_weekday.go:37): Go time.Weekday() is Sunday=0 ..
    Saturday=6; Spark dayofweek is Sunday=1 .. Saturday=7 — off by one
    without the correction, so Weekday(t) == N conditions would select
    the wrong day for every row."""
    return F.dayofweek(col) - 1


# Type family
def int_(col: Column) -> Column:
    # try_cast: Spark 4 ANSI mode aborts the whole job with
    # CAST_INVALID_INPUT on the first non-numeric value; the converter
    # contract is malformed input -> NULL (per-record on_error)
    return col.try_cast("long")


def double_(col: Column) -> Column:
    return col.try_cast("double")


def string_(col: Column) -> Column:
    return col.cast("string")


def is_string(col: Column) -> Column:
    return F.typeof(col) == F.lit("string")


# Collection family
keys_ = F.map_keys
values_ = F.map_values
sort_ = F.sort_array
index_ = F.element_at
slice_to_map = F.map_from_entries


def contains_value(col: Column, v) -> Column:
    return F.array_contains(col, v)


# IDs
def trace_id_hex(col: Column) -> Column:
    return F.lower(F.hex(col))


def is_root_span(parent_span_id: Column) -> Column:
    return (parent_span_id == F.lit("0" * 16)) | parent_span_id.isNull() | (parent_span_id == F.lit(""))


def uuid_() -> Column:
    return F.expr("uuid()")


def uuid_v7(ts_ms: Column, entropy: Column) -> Column:
    """UUIDv7 (func_uuidv7.go): 48-bit unix-ms timestamp, version 7,
    variant 10, remaining bits random. The reference draws crypto
    randomness; here the 74 random bits derive from xxhash64(entropy) so
    the ids are time-ordered AND reproducible (re-running a batch yields
    identical ids — the property a resumable pipeline actually needs)."""
    ts = F.lpad(F.lower(F.hex(ts_ms.cast("long"))), 12, "0")
    h = F.lower(F.hex(F.xxhash64(entropy)))  # 16 hex chars
    h2 = F.lower(F.hex(F.xxhash64(entropy, F.lit(7))))
    rand_a = F.substring(F.rpad(h, 16, "0"), 1, 3)
    # variant nibble in {8,9,a,b}: 8 + (first entropy nibble % 4)
    var_nibble = F.substring(
        F.lit("89ab89ab89ab89ab"), F.conv(F.substring(h2, 1, 1), 16, 10).cast("int") + 1, 1
    )
    rand_b = F.concat(F.substring(h2, 2, 3), F.substring(F.rpad(h, 16, "0"), 4, 12))
    return F.concat_ws(
        "-",
        F.substring(ts, 1, 8),
        F.substring(ts, 9, 4),
        F.concat(F.lit("7"), rand_a),
        F.concat(var_nibble, F.substring(rand_b, 1, 3)),
        F.substring(rand_b, 4, 12),
    )


def is_valid_luhn(col: Column) -> Column:
    """IsValidLuhn (func_luhn_valid.go): Luhn checksum over the digit
    string (spaces stripped). Pure column expression: reverse + per-index
    aggregate; NULL for inputs with non-digit characters (the reference
    errors), false for empty strings."""
    s = F.regexp_replace(col, " ", "")
    rev = F.reverse(s)
    n = F.length(rev)
    idxs = F.sequence(F.lit(2), n)
    def add_digit(acc, i):
        d = F.substring(rev, i, 1).cast("int")
        doubled = F.when(i % 2 == 0, F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        return acc + doubled

    total = F.when(n >= 2, F.aggregate(idxs, F.lit(0), add_digit)).otherwise(F.lit(0))
    check = F.substring(rev, 1, 1).cast("int")
    valid = ((F.lit(10) - total % 10) % 10) == check
    return F.when(n == 0, F.lit(False)).when(
        s.rlike("^[0-9]+$"), valid
    ).otherwise(F.lit(None).cast("boolean"))


def decode_(col: Column, encoding: str) -> Column:
    """Decode converter (func_decode.go): base64 family + hex + utf8
    passthrough -> string."""
    enc = encoding.lower().replace("-", "")
    # try_to_binary/try-style decode: invalid input is a per-record NULL,
    # never an executor IllegalArgumentException that kills the job
    if enc in ("base64", "base64std"):
        return F.try_to_binary(col, F.lit("base64")).cast("string")
    if enc in ("base64url",):
        fixed = F.translate(col, "-_", "+/")
        return F.try_to_binary(fixed, F.lit("base64")).cast("string")
    if enc == "hex":
        return F.try_to_binary(col, F.lit("hex")).cast("string")
    if enc in ("utf8", "utf8raw", "us-ascii", "usascii"):
        return col.cast("string")
    raise ValueError(f"unsupported Decode encoding {encoding!r}")


# UserAgent converter (func_useragent.go): the reference runs the full
# uap-go regex database (vendoring uap-core's regexes.yaml is impossible
# in this sandbox — no network); this is a JVM-side regexp chain with
# uap-go SEMANTICS — ToVersionString truncation to Major.Minor.Patch,
# 'Other' family/os fallbacks, os.version omitted when empty — verified
# against every vector in func_useragent_test.go
# (tests/test_ops_round2.py::test_user_agent_reference_vectors).
# Entry shape: (family | None, regex). A None family takes the agent name
# from capture group 1 and the version from group 2 (uap-core's
# dynamic-family patterns, e.g. the cloud-SDK block); otherwise the
# version is group 1.
_UA_FAMILIES: list[tuple[str | None, str]] = [
    # order matters (Edge/OPR before Chrome, Chrome before Safari),
    # mirroring uap-core precedence
    ("Edge", r"Edg(?:e|A|iOS)?/(\d+(?:\.\d+){0,2})"),
    ("Opera", r"OPR/(\d+(?:\.\d+){0,2})"),
    ("Chrome Mobile", r"(?=.*Mobile)(?=.*Android).*Chrome/(\d+(?:\.\d+){0,2})"),
    ("Chrome", r"Chrome/(\d+(?:\.\d+){0,2})"),
    ("Firefox", r"Firefox/(\d+(?:\.\d+){0,2})"),
    ("Mobile Safari", r"(?=.*iPhone|.*iPad).*Version/(\d+(?:\.\d+){0,2}).*Safari"),
    ("Safari", r"Version/(\d+(?:\.\d+){0,2}).*Safari"),
    ("IE", r"MSIE (\d+(?:\.\d+){0,2})"),
    ("Googlebot", r"Googlebot/(\d+(?:\.\d+){0,2})"),
    ("bingbot", r"bingbot/(\d+(?:\.\d+){0,2})"),
    ("curl", r"curl/(\d+(?:\.\d+){0,2})"),
    ("Wget", r"Wget/(\d+(?:\.\d+){0,2})"),
    ("Python Requests", r"python-requests/(\d+(?:\.\d+){0,2})"),
    (None, r"(ibm-cos-sdk-(?:core|java|js|python))/(\d+(?:\.\d+){0,2})"),
    (None, r"(aws-sdk-\w+)/(\d+(?:\.\d+){0,2})"),
    (None, r"^(ViaFree|Viafree|viafree)-\w+/(\d+(?:\.\d+){0,2})"),
]
# uap-core maps Windows NT tokens to marketing versions
_WINDOWS_NT_VERSIONS = {
    "10.0": "10", "6.3": "8.1", "6.2": "8", "6.1": "7",
    "6.0": "Vista", "5.2": "XP", "5.1": "XP", "5.0": "2000",
}
_UA_OS: list[tuple[str, str]] = [
    ("Windows", r"Windows NT (\d+(?:\.\d+)*)"),
    ("iOS", r"(?:iPhone|iPad).*OS (\d+(?:[_.]\d+){0,2})"),
    ("iOS", r"\biOS (\d+(?:\.\d+){0,2})"),
    ("Mac OS X", r"Mac OS X (\d+(?:[_.]\d+){0,2})"),
    ("Android", r"Android (\d+(?:\.\d+){0,2})"),
    ("Linux", r"Linux/(\d+(?:\.\d+){0,2})"),
    ("Linux", r"(?i)\blinux\b()"),
]


def user_agent(col: Column) -> Column:
    """UserAgent -> map with user_agent.name / user_agent.version /
    user_agent.original / os.name / os.version semconv keys. Like uap-go:
    family and os.name fall back to 'Other' (always present), the version
    keys are Major.Minor.Patch, user_agent.version is always present
    (empty when unknown) and os.version is omitted when empty."""
    name = None
    version = None
    for fam, rx in _UA_FAMILIES:
        hit = col.rlike(rx)
        if fam is None:
            f, v = F.regexp_extract(col, rx, 1), F.regexp_extract(col, rx, 2)
        else:
            f, v = F.lit(fam), F.regexp_extract(col, rx, 1)
        name = F.when(hit, f) if name is None else name.when(hit, f)
        version = F.when(hit, v) if version is None else version.when(hit, v)
    name = name.otherwise("Other")
    version = version.otherwise("")
    os_name = None
    os_version = None
    for osf, rx in _UA_OS:
        hit = col.rlike(rx)
        ov = F.regexp_replace(F.regexp_extract(col, rx, 1), "_", ".")
        if osf == "Windows":
            mapped = None
            for nt, mk in _WINDOWS_NT_VERSIONS.items():
                c = ov == nt
                mapped = F.when(c, mk) if mapped is None else mapped.when(c, mk)
            ov = mapped.otherwise(ov)
        os_name = F.when(hit, osf) if os_name is None else os_name.when(hit, osf)
        os_version = F.when(hit, ov) if os_version is None else os_version.when(hit, ov)
    os_name = os_name.otherwise("Other")
    os_version = F.when(os_version == "", F.lit(None).cast("string")).otherwise(
        os_version
    )
    full = F.map_from_arrays(
        F.array(
            F.lit("user_agent.name"), F.lit("user_agent.original"),
            F.lit("user_agent.version"), F.lit("os.name"), F.lit("os.version"),
        ),
        F.array(name, col, version, os_name, os_version),
    )
    # os.version is the only omittable key (func_useragent.go:48-57)
    return F.map_filter(full, lambda _, v: v.isNotNull())


log_ = F.log


# ---------------------------------------------------------------------------
# Duration family (func_duration.go + func_hours/minutes/seconds/
# milliseconds/microseconds/nanoseconds.go): Duration parses a Go
# time.ParseDuration string into int64 nanoseconds (the flat-model stand-in
# for time.Duration); the unit converters read that ns column.
# ---------------------------------------------------------------------------

_DUR_SEG_RX = r"(\d+(?:\.\d*)?|\.\d+)(ns|us|µs|μs|ms|s|m|h)"
_DUR_VALID_RX = r"^[+-]?(?:(?:\d+(?:\.\d*)?|\.\d+)(?:ns|us|µs|μs|ms|s|m|h))+$"
_DUR_UNIT_NS = {
    "ns": 1.0, "us": 1e3, "µs": 1e3, "μs": 1e3,
    "ms": 1e6, "s": 1e9, "m": 6e10, "h": 3.6e12,
}


def duration_(col: Column) -> Column:
    """Duration("1h30m") -> int64 nanoseconds. Go ParseDuration grammar:
    optional sign, one or more <decimal><unit> segments, plus the special
    case "0"; malformed input -> NULL (flat-model on_error). Pure column
    expressions — segments are regexp-extracted and folded JVM-side."""
    vals = F.regexp_extract_all(col, F.lit(_DUR_SEG_RX), 1)
    units = F.regexp_extract_all(col, F.lit(_DUR_SEG_RX), 2)

    def seg_ns(v: Column, u: Column) -> Column:
        expr = None
        for unit, ns in _DUR_UNIT_NS.items():
            c = v.cast("double") * F.lit(ns)
            expr = F.when(u == unit, c) if expr is None else expr.when(u == unit, c)
        return expr
    total = F.aggregate(
        F.zip_with(vals, units, seg_ns),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    signed = F.when(col.startswith("-"), -total).otherwise(total).cast("long")
    return (
        F.when(col == "0", F.lit(0).cast("long"))
        .when(col.rlike(_DUR_VALID_RX), signed)
        .otherwise(F.lit(None).cast("long"))
    )


def nanoseconds_(d: Column) -> Column:
    return d.cast("long")


def microseconds_(d: Column) -> Column:
    return ((d - d % F.lit(1000)) / F.lit(1000)).cast("long")


def milliseconds_(d: Column) -> Column:
    return ((d - d % F.lit(1000000)) / F.lit(1000000)).cast("long")


def seconds_(d: Column) -> Column:
    return d.cast("double") / F.lit(1e9)


def minutes_(d: Column) -> Column:
    return d.cast("double") / F.lit(6e10)


def hours_(d: Column) -> Column:
    return d.cast("double") / F.lit(3.6e12)


# ---------------------------------------------------------------------------
# Type predicates (func_is_bool/is_int/is_double/is_list/is_map.go) — the
# flat model types columns statically, so typeof() folds to a constant and
# the predicate costs nothing at runtime.
# ---------------------------------------------------------------------------


def is_bool(col: Column) -> Column:
    return F.typeof(col) == F.lit("boolean")


def is_int(col: Column) -> Column:
    return F.typeof(col).isin("tinyint", "smallint", "int", "bigint")


def is_double(col: Column) -> Column:
    return F.typeof(col).isin("float", "double")


def is_list(col: Column) -> Column:
    return F.typeof(col).startswith("array<")


def is_map(col: Column) -> Column:
    return F.typeof(col).startswith("map<")


def parse_int(col: Column, base: int = 10) -> Column:
    """ParseInt(target, base) — strconv.ParseInt subset: bases 2/8/10/16
    and base 0 (auto-detect 0x/0o/0b prefixes, bare = decimal). Malformed
    input -> NULL."""
    s = F.trim(col)
    sign = F.when(s.startswith("-"), F.lit(-1).cast("long")).otherwise(F.lit(1).cast("long"))
    mag = F.regexp_replace(s, r"^[+-]", "")

    def conv_base(m: Column, b: int, rx: str) -> Column:
        return F.when(m.rlike(rx), F.conv(m, b, 10).cast("long"))

    if base == 10:
        # try_cast: a 20-digit magnitude passes the digits guard but
        # overflows int64 — strconv.ParseInt range error -> NULL, not an
        # ANSI job abort
        out = F.when(mag.rlike("^[0-9]+$"), mag.try_cast("long"))
    elif base == 16:
        out = conv_base(F.regexp_replace(mag, "^0[xX]", ""), 16, "^[0-9a-fA-F]+$")
    elif base == 8:
        out = conv_base(F.regexp_replace(mag, "^0[oO]", ""), 8, "^[0-7]+$")
    elif base == 2:
        out = conv_base(F.regexp_replace(mag, "^0[bB]", ""), 2, "^[01]+$")
    elif base == 0:
        hexm = F.regexp_replace(mag, "^0[xX]", "")
        octm = F.regexp_replace(mag, "^0[oO]?", "")
        binm = F.regexp_replace(mag, "^0[bB]", "")
        out = (
            F.when(mag.rlike("^0[xX][0-9a-fA-F]+$"), F.conv(hexm, 16, 10).cast("long"))
            .when(mag.rlike("^0[bB][01]+$"), F.conv(binm, 2, 10).cast("long"))
            .when(mag.rlike("^0[oO]?[0-7]+$") & (mag != "0") & mag.startswith("0"),
                  F.conv(octm, 8, 10).cast("long"))
            .when(mag.rlike("^[0-9]+$"), mag.try_cast("long"))
        )
    else:
        raise ValueError(f"unsupported ParseInt base {base}")
    return sign * out


def convert_case(col: Column, case: str) -> Column:
    """ConvertCase(target, "lower"|"upper"|"snake"|"camel")
    (func_convert_case.go)."""
    if case == "lower":
        return F.lower(col)
    if case == "upper":
        return F.upper(col)
    if case == "snake":
        return to_snake_case(col)
    if case == "camel":
        return to_camel_case(col)
    raise ValueError(f"unsupported ConvertCase case {case!r}")


# ID constructors (func_span_id.go / func_trace_id.go / func_profile_id.go):
# the flat model carries ids as lowercase hex strings, so the constructors
# validate + normalize.


def _hex_id(col: Column, n: int) -> Column:
    return F.when(col.rlike(f"^[0-9a-fA-F]{{{n}}}$"), F.lower(col))


def span_id_(col: Column) -> Column:
    return _hex_id(col, 16)


def trace_id_(col: Column) -> Column:
    return _hex_id(col, 32)


def profile_id_(col: Column) -> Column:
    return _hex_id(col, 32)


def murmur3_hash_exact(col: Column) -> Column:
    from .hashes import murmur3_hash_hex

    return murmur3_hash_hex(col)


def murmur3_hash128_exact(col: Column) -> Column:
    from .hashes import murmur3_hash128_hex

    return murmur3_hash128_hex(col)


def xxh3_(col: Column) -> Column:
    """XXH3(target) — exact-parity XXH3_64 hex (func_xxh3.go)."""
    from .xxh3 import xxh3_hex

    return xxh3_hex(col)


def xxh128_(col: Column) -> Column:
    """XXH128(target) — exact-parity XXH3_128 hex (func_xxh128.go)."""
    from .xxh3 import xxh128_hex

    return xxh128_hex(col)


# round-3 registry-diff closers (func_index.go / func_nanosecond.go /
# func_unix.go, and xxh3_/xxh128_ above — the full ottlfuncs/functions.go
# converter registry is now wired; see COVERAGE.md accounting)


def index_(target: Column, value: Column) -> Column:
    """Index(target, value) for STRING targets: first occurrence, 0-based,
    -1 when absent (strings.Index). For list targets use index_in_list —
    the flat model types columns statically, so the Go runtime type
    dispatch becomes a plan-time choice."""
    return (F.instr(target, value) - 1).cast("long")


def index_in_list(target: Column, value: Column) -> Column:
    """Index over array targets: array_position is 1-based with 0-absent;
    shift to the Go convention (0-based, -1 absent)."""
    return (F.array_position(target, value) - 1).cast("long")


def nanosecond_(ts: Column) -> Column:
    """Nanosecond(time): nanoseconds within the second (microsecond floor —
    Spark timestamps carry us precision)."""
    us = F.unix_micros(ts.cast("timestamp"))
    return (((us % 1_000_000) + 1_000_000) % 1_000_000) * 1000


def unix_(seconds: Column, nanoseconds: Column | None = None) -> Column:
    """Unix(seconds[, nanoseconds]) -> timestamp (time.Unix)."""
    us = seconds.cast("long") * 1_000_000
    if nanoseconds is not None:
        us = us + (nanoseconds.cast("long") / F.lit(1000)).cast("long")
    return F.timestamp_micros(us)


# (replace_match / replace_all_matches already live in the editor section
# above — func_replace_*.go glob semantics via _glob_to_regex)


def flatten_attrs(m: Column, separator: str = ".") -> Column:
    """flatten(target) (func_flatten.go) — the flat-model analog: map
    values that are JSON objects are promoted into the map itself under
    '<key><separator><subkey>' (one level per application; the reference
    recurses — re-apply for deeper nests). Inverse of
    operators/sumologic.nest_attributes."""
    entries = F.map_entries(m)

    def step(acc, e):
        parsed = F.when(
            e["value"].startswith("{"),
            F.from_json(e["value"], "map<string,string>"),
        )
        promoted = F.transform(
            F.map_entries(F.coalesce(parsed, F.create_map().cast("map<string,string>"))),
            lambda s: F.struct(
                F.concat(e["key"], F.lit(separator), s["key"]).alias("key"),
                s["value"].alias("value"),
            ),
        )
        return F.when(parsed.isNotNull(), F.concat(acc, promoted)).otherwise(
            F.concat(acc, F.array(e))
        )

    flat = F.aggregate(
        entries, F.array().cast("array<struct<key:string,value:string>>"), step
    )
    # LAST-wins dedup: a promoted '<key><sep><subkey>' can collide with an
    # existing flat key ({'a.b': 'x', 'a': '{"b":"y"}'}), and
    # map_from_entries aborts the job on duplicates — the reference
    # flatten resolves collisions instead of crashing
    deduped = F.filter(
        flat,
        lambda e, i: ~F.exists(
            F.slice(flat, i + 2, F.size(flat)), lambda e2: e2["key"] == e["key"]
        ),
    )
    return F.map_from_entries(deduped)
