"""Default grok pattern set parity (VERDICT r4 missing #1).

The reference's ExtractGrokPatterns wraps elastic/go-grok's complete
default registry (func_extract_grok_patterns.go:40, grok.NewComplete()).
This checks:
  1. name parity — every name of the public go-grok/logstash BASE set is
     present in DEFAULT_PATTERNS (the optional vendor packs — firewalls,
     exim, mongodb, ... — remain out of scope; the base set is what the
     reference's own tests exercise);
  2. every default pattern expands, compiles under python `re`, and runs
     under both engines the library executes grok on: RE2 via pyarrow's
     extract_regex (arrow impl; no default leaves it for the jvm
     fallback) and Java regex via the jvm impl's stripped form;
  3. positive/negative match smoke vectors for the newly vendored names.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions import grok as G
from opentelemetry_collector_contrib_spark.functions.rxutil import strip_named_groups, uncapture_unnamed_groups

# The public elastic/go-grok base registry names (logstash grok-patterns
# base collection). This list IS the parity assertion: a name the
# reference resolves that we don't fails the test.
GO_GROK_BASE_NAMES = [
    "USERNAME", "USER", "EMAILLOCALPART", "EMAILADDRESS", "INT",
    "BASE10NUM", "NUMBER", "BASE16NUM", "BASE16FLOAT", "POSINT",
    "NONNEGINT", "WORD", "NOTSPACE", "SPACE", "DATA", "GREEDYDATA",
    "QUOTEDSTRING", "QS", "UUID", "URN", "MAC", "CISCOMAC", "WINDOWSMAC",
    "COMMONMAC", "IPV6", "IPV4", "IP", "HOSTNAME", "IPORHOST", "HOSTPORT",
    "PATH", "UNIXPATH", "TTY", "WINPATH", "URIPROTO", "URIHOST",
    "URIPATH", "URIQUERY", "URIPARAM", "URIPATHPARAM", "URI", "MONTH",
    "MONTHNUM", "MONTHNUM2", "MONTHDAY", "DAY", "YEAR", "HOUR", "MINUTE",
    "SECOND", "TIME", "DATE_US", "DATE_EU", "ISO8601_TIMEZONE",
    "ISO8601_SECOND", "TIMESTAMP_ISO8601", "DATE", "DATESTAMP", "TZ",
    "DATESTAMP_RFC822", "DATESTAMP_RFC2822", "DATESTAMP_OTHER",
    "DATESTAMP_EVENTLOG", "HTTPDUSER", "HTTPDERROR_DATE", "SYSLOGTIMESTAMP",
    "PROG", "SYSLOGPROG", "SYSLOGHOST", "SYSLOGFACILITY", "HTTPDATE",
    "SYSLOGBASE", "SYSLOG5424PRI", "SYSLOG5424SD", "SYSLOG5424BASE",
    "SYSLOG5424LINE", "LOGLEVEL", "HTTPD_COMMONLOG", "COMMONAPACHELOG",
    "HTTPD_COMBINEDLOG", "COMBINEDAPACHELOG", "HTTPD20_ERRORLOG",
    "HTTPD24_ERRORLOG", "HTTPD_ERRORLOG", "JAVACLASS", "JAVAFILE",
    "JAVAMETHOD", "JAVASTACKTRACEPART", "JAVATHREAD", "JAVALOGMESSAGE",
    "CATALINA_DATESTAMP", "CATALINALOG", "TOMCAT_DATESTAMP", "TOMCATLOG",
]


def test_base_set_name_parity():
    missing = [n for n in GO_GROK_BASE_NAMES if n not in G.DEFAULT_PATTERNS]
    assert not missing, f"go-grok base names missing from DEFAULT_PATTERNS: {missing}"


def test_every_default_expands_and_compiles_python_and_re2():
    for name in sorted(G.DEFAULT_PATTERNS):
        # the sentinel-group form is what grok_extract actually compiles
        # (unique grok<N> names; go-grok allows DUPLICATE capture names
        # across alternation branches — e.g. HTTPD_ERRORLOG's two
        # timestamps — which python re rejects, so the renamed
        # G.expand() form is only valid for duplicate-free patterns)
        ex = G._Expander(None, named_captures_only=True)
        rx = ex.expand(f"%{{{name}}}")
        re.compile(rx)
        # RE2 (arrow impl): extract_regex raises on RE2-invalid patterns
        # and on unnamed groups, which grok_extract rewrites away first
        pc.extract_regex(pa.array(["probe"]), pattern=uncapture_unnamed_groups(rx))


def test_every_default_compiles_under_java(spark):
    # jvm impl strips named groups and runs Java regexp_extract; one
    # rlike per pattern over a literal probes Java-side compilation
    df = spark.range(1).select(F.lit("probe-body").alias("b"))
    cols = []
    for name in sorted(G.DEFAULT_PATTERNS):
        jrx, _ = strip_named_groups(G.expand(f"%{{{name}}}"))
        cols.append(F.col("b").rlike(jrx).alias(name.lower()))
    # single collect: one Java Pattern.compile per pattern
    df.select(*cols).collect()


VECTORS = [
    ("UUID", "0190c921-1f2e-7cd2-b4f2-fe18f0e51b4a", True),
    ("UUID", "zz90c921-1f2e-7cd2-b4f2-fe18f0e51b4a", False),
    ("MAC", "00:1B:44:11:3A:B7", True),
    ("MAC", "001B.4411.3AB7", True),
    ("MAC", "00-1B-44-11-3A-B7", True),
    ("IPV6", "2001:db8::8a2e:370:7334", True),
    ("IPV6", "::ffff:10.2.3.4", True),
    ("IPV6", "10.2.3.4", False),
    ("IP", "2001:db8::1", True),
    ("IP", "10.2.3.4", True),
    ("EMAILADDRESS", "ops+pager@example.co", True),
    ("EMAILADDRESS", "not-an-email", False),
    ("HOSTPORT", "db-7.internal:5432", True),
    ("UNIXPATH", "/var/log/app/x.log", True),
    ("WINPATH", r"C:\Users\svc\app.log", True),
    ("TTY", "/dev/pts/3", True),
    ("URN", "urn:ietf:rfc:5424", True),
    ("BASE16NUM", "0xDEADbeef", True),
    ("DATESTAMP_RFC2822", "Tue, 19 Aug 2026 14:03:07 +0000", True),
    ("DATESTAMP_EVENTLOG", "20260819140307", True),
    ("SYSLOGTIMESTAMP", "Aug  9 14:03:07", True),
    ("SYSLOG5424PRI", "<165>", True),
    ("CATALINA_DATESTAMP", "Aug 19, 2026 2:03:07 PM", True),
    ("TOMCAT_DATESTAMP", "2026-08-19 14:03:07,123", True),
]


def test_new_pattern_vectors_python_re2_agree():
    for name, text, want in VECTORS:
        rx = G.expand(f"%{{{name}}}")
        got_py = re.compile(rf"^(?:{rx})\Z", re.ASCII).match(text) is not None
        got_re2 = pc.match_substring_regex(pa.array([text]), f"^(?:{rx})$")[0].as_py()
        assert got_py == want, (name, text, "python")
        assert got_re2 == want, (name, text, "re2")


def test_composite_line_shapes_extract():
    # full-line composites with ECS capture names resolve end-to-end
    line = (
        '203.0.113.9 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
        '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"'
    )
    rx = re.compile(G.expand("%{HTTPD_COMBINEDLOG}"), re.ASCII)
    m = rx.match(line)
    assert m is not None
    got = {k: v for k, v in m.groupdict().items() if v is not None}
    assert got["source_address"] == "203.0.113.9"
    assert got["http_request_method"] == "GET"
    assert got["http_response_status_code"] == "200"
    assert got["user_agent_original"] == "Mozilla/4.08 [en] (Win98; I ;Nav)"

    sys_line = "<165>1 2026-08-19T14:03:07.000Z host-1 app - ID47 - critical disk event"
    m2 = re.compile(G.expand("%{SYSLOG5424LINE}"), re.ASCII).match(sys_line)
    assert m2 is not None
    got2 = {k: v for k, v in m2.groupdict().items() if v is not None}
    assert got2["log_syslog_priority"] == "165"
    assert got2["process_name"] == "app"
    assert got2["message"] == "critical disk event"

    jline = "    at com.example.Main.run(Main.java:42)"
    m3 = re.compile(G.expand("%{JAVASTACKTRACEPART}"), re.ASCII).search(jline)
    assert m3 is not None
    got3 = {k: v for k, v in m3.groupdict().items() if v is not None}
    assert got3["java_log_origin_class_name"] == "com.example.Main"
    assert got3["log_origin_file_line"] == "42"


def test_grok_extract_new_patterns_jvm_pandas_agree(spark):
    from opentelemetry_collector_contrib_spark.functions.grok import grok_extract

    rows = [
        ("<13>1 2026-08-19T14:03:07Z h1 proc 77 MSGID - body text",),
        ("Tue, 19 Aug 2026 14:03:07 +0000 boot ok",),
        ("no match here",),
    ]
    df = spark.createDataFrame(rows, ["body"])
    pat = "%{SYSLOG5424BASE}"
    for impl in ("jvm", "arrow"):
        out = [
            r[0]
            for r in df.select(grok_extract(F.col("body"), pat, impl=impl)).collect()
        ]
        assert out[0] is not None and out[0]["process.name"] == "proc"
        assert out[0]["process.pid"] == "77"
        assert out[2] is None


def test_grok_arrow_impl_agreement_and_fallback(spark):
    """impl='arrow' (RE2 C++ pass, the reference's own engine family)
    agrees with jvm on duplicate-key first-non-empty merge, inline custom
    groups, NULL rows, and non-matching rows — and an inline construct
    RE2 rejects (lookahead) falls back to the jvm engine at plan time."""
    from opentelemetry_collector_contrib_spark.functions.grok import grok_extract

    rows = [
        ("a=1 b=2",),
        (None,),
        ("zzz",),
    ]
    df = spark.createDataFrame(rows, ["body"])
    # duplicate original key via custom patterns: first non-empty wins
    custom = {"KV": r"(?:a=%{WORD:v})", "KV2": r"(?:b=%{WORD:v})"}
    pat = "%{KV} %{KV2}"
    per = {}
    for impl in ("jvm", "arrow"):
        per[impl] = [
            dict(r[0]) if r[0] is not None else None
            for r in df.select(
                grok_extract(F.col("body"), pat, custom=custom, impl=impl)
            ).collect()
        ]
    assert per["jvm"] == per["arrow"]
    assert per["arrow"][0] == {"v": "1"} and per["arrow"][1] is None

    # RE2-rejected pattern (lookahead) -> plan-time fallback to jvm
    la = r"(?P<x>foo(?=bar))"
    df2 = spark.createDataFrame([("foobar",), ("foobaz",)], ["body"])
    got = [
        dict(r[0]) if r[0] is not None else None
        for r in df2.select(grok_extract(F.col("body"), la, impl="arrow")).collect()
    ]
    assert got == [{"x": "foo"}, None]
