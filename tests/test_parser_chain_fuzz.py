"""Hypothesis contract fuzz for the syslog + container parser chains
(round-5 ask: same three-engine exposure as the vparse fuzz).

Two layers:

1. Pattern parity, no Spark, 2000 examples per property: the RFC5424 /
   RFC3164 / containerd / kubelet-path patterns extracted by python `re`
   vs Arrow RE2 (`pc.extract_regex`) must agree on (match?, per-group
   values) for every generated body. The comparable contract is
   extract_patterns' one (functions/ottl.py:186): None on no match, else
   {name: value} with ''-valued groups dropped (Java regexp_extract and
   RE2 both report a non-participating group as ''). Bodies never end in
   a newline — trailing-'\\n' `$` semantics legitimately differ across
   the three engines and the canonical-pattern set handles that with the
   vparse anchor rewrites; these parser patterns run JVM-only in
   production, so the cross-engine contract is scoped to the inputs all
   engines define identically.

2. Whole-chain fuzz against a pure-python model, Spark-batched (each
   hypothesis example is one small DataFrame): syslog_parser's RFC5424
   STRUCTURED-DATA flatten (escaped quotes, last-wins duplicate-key
   dedup, '-' nil element) + priority->severity/facility, and
   container_parser's docker-JSON/containerd dispatch + kubelet-path
   k8s.* metadata upsert.

Reference semantics under test: pkg/stanza/operator/parser/syslog and
.../parser/container in /root/reference.
"""

from __future__ import annotations

import json
import re

import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from opentelemetry_collector_contrib_spark.operators.parsers import (
    _CONTAINERD_RX,
    _K8S_PATH_RX,
    _RFC3164,
    _RFC5424,
    container_parser,
    syslog_parser,
)

FAST = settings(max_examples=2000, deadline=None)
SPARKSET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------- models
def _extract_model(body: str | None, pattern: str) -> dict | None:
    """Python-re model of functions/ottl.extract_patterns: None on no
    match, else named groups with None/'' dropped."""
    if body is None:
        return None
    m = re.search(pattern, body)
    if m is None:
        return None
    return {k: v for k, v in m.groupdict().items() if v}


def _re2_extract(bodies: list[str | None], pattern: str) -> list[dict | None]:
    """Arrow-RE2 extraction under the same contract."""
    out = pc.extract_regex(pa.array(bodies, type=pa.string()), pattern=pattern)
    valid = out.is_valid()
    res = []
    for i in range(len(out)):
        if not valid[i].as_py():
            res.append(None)
            continue
        d = {f.name: out.field(f.name)[i].as_py() for f in out.type}
        res.append({k: v for k, v in d.items() if v})
    return res


# ------------------------------------------------------- body generators
_tok = st.text(alphabet="abXZ09._:-", min_size=1, max_size=6)
_sd_key = st.text(alphabet="abZ09.@-", min_size=1, max_size=4)
# PARAM-VALUE payload incl. the three RFC5424 6.3.3 escapes
_sd_val = st.text(alphabet='ab 09é\\"]=', max_size=6).map(
    lambda s: s.replace("\\", "\\\\").replace('"', '\\"').replace("]", "\\]")
)


@st.composite
def sd_element(draw):
    sd_id = draw(_tok)
    pairs = draw(st.lists(st.tuples(_sd_key, _sd_val), max_size=3))
    inner = "".join(f' {k}="{v}"' for k, v in pairs)
    return f"[{sd_id}{inner}]"


@st.composite
def syslog5424_body(draw):
    kind = draw(st.integers(0, 7))
    if kind == 0:  # garbage / wrong protocol
        return draw(
            st.text(alphabet="<>13 ab[]-:\tZ", max_size=30).map(
                lambda s: s.rstrip("\r\n")
            )
        )
    pri = draw(st.integers(0, 999))
    sd = draw(
        st.one_of(
            st.just("-"),
            st.lists(sd_element(), min_size=1, max_size=2).map("".join),
        )
    )
    msg = draw(st.text(alphabet="ab 09é=[]\"\\", max_size=10)).rstrip("\r\n")
    ts = draw(st.sampled_from(["2025-10-10T13:55:36Z", "-", "t.0+02:00"]))
    host, app, proc, msgid = (draw(_tok) for _ in range(4))
    body = f"<{pri}>1 {ts} {host} {app} {proc} {msgid} {sd}"
    if draw(st.booleans()):
        body += f" {msg}"
    if kind == 1:  # truncate somewhere: malformed header
        body = body[: draw(st.integers(0, len(body)))].rstrip("\r\n")
    return body


@st.composite
def syslog3164_body(draw):
    if draw(st.integers(0, 5)) == 0:
        return draw(
            st.text(alphabet="<>13 ab[]:", max_size=25).map(
                lambda s: s.rstrip("\r\n")
            )
        )
    pri = draw(st.integers(0, 999))
    day = draw(st.sampled_from(["Oct  5", "Oct 15", "Jan  1"]))
    app = draw(st.text(alphabet="abZ09.-", min_size=1, max_size=6))
    proc = draw(st.one_of(st.none(), st.integers(1, 99999)))
    msg = draw(st.text(alphabet="ab 09:[]é", max_size=12)).rstrip("\r\n")
    proc_s = f"[{proc}]" if proc is not None else ""
    return f"<{pri}>{day} 13:55:36 host.x {app}{proc_s}: {msg}"


@st.composite
def containerd_body(draw):
    kind = draw(st.integers(0, 5))
    if kind == 0:
        return draw(
            st.text(alphabet="ab {}09:TZ.-", max_size=25).map(
                lambda s: s.rstrip("\r\n")
            )
        )
    ts = draw(st.sampled_from(["2025-10-10T13:55:36.123Z", "2025-10-10T13:55:36+02:00"]))
    stream = draw(st.sampled_from(["stdout", "stderr", "stdfoo"]))
    logtag = draw(st.sampled_from(["F", "P", ""]))
    log = draw(st.text(alphabet="ab 09é{}\"", max_size=10)).rstrip("\r\n")
    return f"{ts} {stream} {logtag} {log}".rstrip("\r\n")


@st.composite
def k8s_path(draw):
    if draw(st.integers(0, 3)) == 0:
        return draw(st.text(alphabet="ab/_.-09", max_size=30))
    ns, pod, container = (draw(st.text(alphabet="ab09-", min_size=1, max_size=5)) for _ in range(3))
    uid = draw(st.text(alphabet="abcdef0123456789-", min_size=4, max_size=10))
    restart = draw(st.integers(0, 9))
    rot = draw(st.sampled_from(["", ".20251010-135536"]))
    return f"/var/log/pods/{ns}_{pod}_{uid}/{container}/{restart}.log{rot}"


# ----------------------------------------------- layer 1: pattern parity
@given(st.lists(syslog5424_body(), min_size=1, max_size=4))
@FAST
def test_rfc5424_pattern_re2_parity(bodies):
    got = _re2_extract(bodies, _RFC5424)
    for b, g in zip(bodies, got):
        assert g == _extract_model(b, _RFC5424), repr(b)


@given(st.lists(syslog3164_body(), min_size=1, max_size=4))
@FAST
def test_rfc3164_pattern_re2_parity(bodies):
    got = _re2_extract(bodies, _RFC3164)
    for b, g in zip(bodies, got):
        assert g == _extract_model(b, _RFC3164), repr(b)


@given(st.lists(containerd_body(), min_size=1, max_size=4), st.lists(k8s_path(), min_size=1, max_size=4))
@FAST
def test_container_patterns_re2_parity(bodies, paths):
    for pat, vals in ((_CONTAINERD_RX, bodies), (_K8S_PATH_RX, paths)):
        got = _re2_extract(vals, pat)
        for b, g in zip(vals, got):
            assert g == _extract_model(b, pat), (pat, repr(b))


# ------------------------------------------- layer 2: whole-chain models
_OTEL_SEV = {0: 24, 1: 22, 2: 21, 3: 17, 4: 13, 5: 10, 6: 9}


def _syslog5424_model(body: str | None):
    """(attributes, severity_number, facility) the Spark chain must emit."""
    attrs = _extract_model(body, _RFC5424)
    if attrs is not None:
        sd = attrs.get("structured_data")
        if sd is not None and sd != "-":
            ents: list[tuple[str, str]] = []
            for e in re.findall(r"\[(?:[^\]\\]|\\.)*\]", sd):
                idm = re.search(r"^\[([^ \]]+)", e)
                sd_id = idm.group(1) if idm else ""
                for p in re.findall(r'[\w.@-]+="(?:[^"\\]|\\.)*"', e):
                    k = re.search(r"^([\w.@-]+)=", p).group(1)
                    vm = re.search(r'^[\w.@-]+="((?:[^"\\]|\\.)*)"$', p)
                    v = re.sub(r'\\([\]"\\])', r"\1", vm.group(1) if vm else "")
                    ents.append((f"structured_data.{sd_id}.{k}", v))
            dedup: dict[str, str] = {}
            for k, v in ents:  # last wins, like the chain's exists-filter
                dedup[k] = v
            attrs = {**attrs, **dedup}
    pri = attrs.get("priority") if attrs else None
    if pri is None:
        return attrs, None, None
    p = int(pri)
    return attrs, _OTEL_SEV.get(p & 7, 5), p // 8


def _container_model(body: str | None, path: str | None):
    if body is None:
        attrs = None
    elif body.startswith("{"):
        try:
            d = json.loads(body)
            attrs = (
                {str(k): (None if v is None else str(v)) for k, v in d.items()}
                if isinstance(d, dict)
                else None
            )
        except Exception:
            attrs = None
    else:
        attrs = _extract_model(body, _CONTAINERD_RX)
    meta = _extract_model(path, _K8S_PATH_RX)
    if meta is not None:
        k8s = {
            "k8s.pod.name": meta.get("pod_name"),
            "k8s.namespace.name": meta.get("namespace"),
            "k8s.pod.uid": meta.get("uid"),
            "k8s.container.name": meta.get("container_name"),
            "k8s.container.restart_count": meta.get("restart_count"),
        }
        attrs = {**(attrs or {}), **k8s}
    return attrs


@given(st.lists(syslog5424_body(), min_size=1, max_size=10))
@SPARKSET
def test_syslog5424_chain_matches_python_model(spark, bodies):
    df = spark.createDataFrame([(i, b) for i, b in enumerate(bodies)], "id long, body string")
    rows = {
        r["id"]: r
        for r in syslog_parser(df, "rfc5424").select(
            "id", "attributes", "severity_number", "facility"
        ).collect()
    }
    for i, b in enumerate(bodies):
        attrs, sev, fac = _syslog5424_model(b)
        r = rows[i]
        got = dict(r["attributes"]) if r["attributes"] is not None else None
        assert got == attrs, repr(b)
        assert r["severity_number"] == sev, repr(b)
        assert r["facility"] == fac, repr(b)


@st.composite
def docker_or_containerd(draw):
    kind = draw(st.integers(0, 3))
    if kind == 0:  # docker JSON, string/null values only (from_json contract)
        d = draw(
            st.dictionaries(
                st.text(alphabet="ab09._", min_size=1, max_size=5),
                st.one_of(st.none(), st.text(alphabet='ab 09é"\\{}', max_size=8)),
                max_size=3,
            )
        )
        return json.dumps(d, ensure_ascii=draw(st.booleans()))
    if kind == 1:  # malformed '{' prefix
        return "{" + draw(st.text(alphabet='ab":{}', max_size=8))
    return draw(containerd_body())


@given(
    st.lists(
        st.tuples(docker_or_containerd(), st.one_of(st.none(), k8s_path())),
        min_size=1,
        max_size=10,
    )
)
@SPARKSET
def test_container_chain_matches_python_model(spark, rows_in):
    df = spark.createDataFrame(
        [(i, b, p) for i, (b, p) in enumerate(rows_in)],
        "id long, body string, log_file_path string",
    )
    out = {
        r["id"]: r
        for r in container_parser(df, add_metadata_from_filepath=True)
        .select("id", "attributes")
        .collect()
    }
    for i, (b, p) in enumerate(rows_in):
        want = _container_model(b, p)
        got = out[i]["attributes"]
        got = dict(got) if got is not None else None
        assert got == want, (repr(b), repr(p))


# ---------------------------------------------------------------------------
# journald chain (round-5 extension): JSON-line entries with required
# __REALTIME_TIMESTAMP/__CURSOR, PRIORITY -> OTel severity, and the
# try_cast per-entry failure posture (a malformed entry yields NULLs for
# that entry; the job must survive every generated batch by construction)
# ---------------------------------------------------------------------------

_SEV = {0: 24, 1: 22, 2: 21, 3: 17, 4: 13, 5: 10, 6: 9, 7: 5}


def _journald_model(body: str):
    """(attributes, severity, cursor, message, ts_us) for one line.
    Mirrors journald_parser: Jackson from_json over a VALID-json
    envelope (the generator emits whole-value JSON or non-'{' garbage),
    rlike digits + long-range gate on the timestamp, try_cast(int)
    semantics on PRIORITY (digits-only within int32 here — the
    generator's alphabet keeps clear of try_cast's sign/whitespace
    edges, which from_json never produces for these fields anyway)."""
    try:
        d = json.loads(body)
    except ValueError:
        d = None
    if not isinstance(d, dict):
        d = None
    ok = (
        d is not None
        and "__REALTIME_TIMESTAMP" in d
        and "__CURSOR" in d
        and re.fullmatch(r"[0-9]+", d["__REALTIME_TIMESTAMP"] or "") is not None
        and int(d["__REALTIME_TIMESTAMP"]) < 2**63
    )
    if not ok:
        return None, None, None, None, None
    attrs = {k: v for k, v in d.items() if k != "__REALTIME_TIMESTAMP"}
    pri = attrs.get("PRIORITY")
    sev = None
    if pri is not None and re.fullmatch(r"[0-9]+", pri) and int(pri) < 2**31:
        sev = _SEV.get(int(pri))
    return attrs, sev, attrs.get("__CURSOR"), attrs.get("MESSAGE"), int(d["__REALTIME_TIMESTAMP"])


@st.composite
def journald_line(draw):
    kind = draw(st.integers(0, 4))
    if kind == 0:  # non-JSON garbage (never '{'-prefixed: stays in the
        # whole-value envelope where all engines agree)
        return draw(
            st.text(alphabet='ab]} ":,0', max_size=10).filter(lambda s: not s.startswith("{"))
        )
    d = {}
    if kind != 1:
        d["__REALTIME_TIMESTAMP"] = draw(
            st.text(alphabet="0123456789", min_size=1, max_size=25)
            if draw(st.booleans())
            else st.sampled_from(["1699999999999999", "9" * 23, "12a", ""])
        )
    if kind != 2:
        d["__CURSOR"] = draw(st.text(alphabet="abc09-", min_size=1, max_size=10))
    if draw(st.booleans()):
        d["PRIORITY"] = draw(
            st.sampled_from(["0", "3", "7", "8", "9", "007", "high", "99999999999", "12x"])
        )
    if draw(st.booleans()):
        d["MESSAGE"] = draw(st.text(alphabet="ab é.", max_size=12))
    if draw(st.booleans()):
        d["_SYSTEMD_UNIT"] = draw(st.text(alphabet="abc.", min_size=1, max_size=8))
    return json.dumps(d)


@given(st.lists(journald_line(), min_size=1, max_size=10))
@SPARKSET
def test_journald_chain_matches_python_model(spark, bodies):
    from opentelemetry_collector_contrib_spark.operators.parsers import journald_parser

    df = spark.createDataFrame([(i, b) for i, b in enumerate(bodies)], "id long, body string")
    out = {
        r["id"]: r
        for r in journald_parser(df)
        # unix_micros, not the timestamp: collect() turns it into a Python
        # datetime, which is lossy in float seconds and ends at year 9999
        .selectExpr("id", "attributes", "severity_number", "cursor", "message", "unix_micros(ts) AS ts_us")
        .collect()
    }
    for i, b in enumerate(bodies):
        attrs, sev, cursor, message, ts_us = _journald_model(b)
        r = out[i]
        got = dict(r["attributes"]) if r["attributes"] is not None else None
        assert got == attrs, repr(b)
        assert r["severity_number"] == sev, repr(b)
        assert r["cursor"] == cursor, repr(b)
        assert r["message"] == message, repr(b)
        assert r["ts_us"] == ts_us, repr(b)
