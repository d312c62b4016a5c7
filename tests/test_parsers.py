"""Golden parser tests mirroring the stanza operator test style
(/root/reference/pkg/stanza/operator/parser/*/ *_test.go): config -> parse
-> assert exact extracted fields."""

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import parsers


def _one(spark, body, **extra):
    row = {"body": body, "source": "svc-a", "ingest_ts": 1}
    row.update(extra)
    return spark.createDataFrame([row])


def test_regex_parser_named_groups(spark):
    df = _one(spark, "2025-01-01 ERROR something broke")
    out = parsers.regex_parser(df, r"^(?P<date>\S+) (?P<sev>\S+) (?P<msg>.*)$")
    attrs = out.select("attributes").first()[0]
    assert attrs == {"date": "2025-01-01", "sev": "ERROR", "msg": "something broke"}


def test_grok_parser_apache_both_impls(spark):
    line = '10.0.0.7 - frank [10/Oct/2025:13:55:36 +0000] "GET /api/v1/items HTTP/1.1" 200 2326'
    df = _one(spark, line)
    for impl in ("jvm", "arrow"):
        attrs = parsers.grok_parser(df, "%{COMMONAPACHELOG}", impl=impl).select("attributes").first()[0]
        assert attrs["source_address"] == "10.0.0.7"
        assert attrs["user_name"] == "frank"
        assert attrs["http_request_method"] == "GET"
        assert attrs["url_original"] == "/api/v1/items"
        assert attrs["http_response_status_code"] == "200"
        assert attrs["http_response_body_bytes"] == "2326"


def test_json_parser(spark):
    df = _one(spark, '{"ts":"2025-10-10T13:55:36Z","level":"ERROR","msg":"boom","attempt":3}')
    attrs = parsers.json_parser(df).select("attributes").first()[0]
    assert attrs["level"] == "ERROR"
    assert attrs["attempt"] == "3"


def test_json_parser_strict_rejects_trailing_garbage(spark):
    """strict=True is the reference's json.Unmarshal posture: a complete
    JSON value followed by ANYTHING is a parse failure, where the
    default JVM from_json (Jackson prefix parse) silently accepts it."""
    df = spark.createDataFrame(
        [{"body": "{}:", "source": "s", "ingest_ts": 1},
         {"body": '{"a":"1"}x', "source": "s", "ingest_ts": 2},
         {"body": '{"a":"1"}', "source": "s", "ingest_ts": 3}]
    )
    lenient = {r["ingest_ts"]: r["attributes"] for r in parsers.json_parser(df).collect()}
    strict = {r["ingest_ts"]: r["attributes"] for r in parsers.json_parser(df, strict=True).collect()}
    assert dict(lenient[1]) == {} and dict(lenient[2]) == {"a": "1"}  # Jackson prefix
    assert strict[1] is None and strict[2] is None  # Go-strict failure
    assert dict(strict[3]) == {"a": "1"} == dict(lenient[3])


def test_json_parser_on_error_drop(spark):
    df = spark.createDataFrame(
        [{"body": "{bad json", "source": "s", "ingest_ts": 1},
         {"body": '{"a":"1"}', "source": "s", "ingest_ts": 2}]
    )
    out = parsers.json_parser(df, on_error="drop")
    assert out.count() == 1
    out2 = parsers.json_parser(df, on_error="send")
    assert out2.count() == 2


def test_keyvalue_parser(spark):
    # example from /root/reference/pkg/stanza/operator/parser/keyvalue/config.go
    df = _one(spark, "ts=1760104536 level=warn svc=svc-b code=429 path=/throttle")
    attrs = parsers.keyvalue_parser(df).select("attributes").first()[0]
    assert attrs == {
        "ts": "1760104536", "level": "warn", "svc": "svc-b", "code": "429", "path": "/throttle"
    }


def test_csv_parser(spark):
    df = _one(spark, "alice,42,active")
    attrs = parsers.csv_parser(df, header=["name", "age", "state"]).select("attributes").first()[0]
    assert attrs == {"name": "alice", "age": "42", "state": "active"}


def test_syslog_rfc3164(spark):
    df = _one(spark, "<34>Oct 10 13:55:36 myhost sshd[42]: Failed password")
    out = parsers.syslog_parser(df, protocol="rfc3164")
    r = out.first()
    attrs = r["attributes"]
    assert attrs["hostname"] == "myhost"
    assert attrs["appname"] == "sshd"
    assert attrs["message"] == "Failed password"
    # pri 34 = facility 4, severity 2 (crit) -> otel 21
    assert r["severity_number"] == 21
    assert r["facility"] == 4


def test_syslog_rfc5424(spark):
    df = _one(spark, '<165>1 2025-10-10T13:55:36.000Z host app 1234 ID47 - hello world')
    r = parsers.syslog_parser(df, protocol="rfc5424").first()
    assert r["attributes"]["appname"] == "app"
    assert r["attributes"]["message"] == "hello world"
    assert r["facility"] == 20


def test_container_parser_containerd_and_docker(spark):
    cri = _one(spark, '2025-10-10T13:55:36.456789123Z stdout F {"msg":"partial","n":1}')
    attrs = parsers.container_parser(cri).select("attributes").first()[0]
    assert attrs["stream"] == "stdout"
    assert attrs["logtag"] == "F"
    assert attrs["log"] == '{"msg":"partial","n":1}'
    docker = _one(spark, '{"log":"hello\\n","stream":"stderr","time":"2025-10-10T13:55:36Z"}')
    attrs2 = parsers.container_parser(docker).select("attributes").first()[0]
    assert attrs2["stream"] == "stderr"


def test_container_parser_k8s_path_metadata(spark):
    # the REAL kubelet pods layout the reference logpathPattern matches:
    # /var/log/pods/<namespace>_<pod>_<uid>/<container>/<restart>.log
    df = _one(
        spark,
        "2025-10-10T13:55:36.1Z stdout F hi",
        log_file_path="/var/log/pods/myns_mypod_19f651bc-73e4-410f-b3e9-f0241679d3b8/mycontainer/1.log",
    )
    attrs = parsers.container_parser(df, add_metadata_from_filepath=True).select("attributes").first()[0]
    assert attrs["k8s.pod.name"] == "mypod"
    assert attrs["k8s.namespace.name"] == "myns"
    assert attrs["k8s.pod.uid"] == "19f651bc-73e4-410f-b3e9-f0241679d3b8"
    assert attrs["k8s.container.name"] == "mycontainer"
    assert attrs["k8s.container.restart_count"] == "1"
    # non-matching path: attributes must stay UNPOLLUTED (no NULL k8s keys)
    df2 = _one(
        spark,
        "2025-10-10T13:55:36.1Z stdout F hi",
        log_file_path="/var/log/syslog",
    )
    attrs2 = parsers.container_parser(df2, add_metadata_from_filepath=True).select("attributes").first()[0]
    assert not any(k.startswith("k8s.") for k in attrs2)


def test_time_parser_strptime_and_epoch(spark):
    df = _one(spark, "x").withColumn("t", F.lit("2025-10-10 13:55:36"))
    out = parsers.time_parser(df, "t", "%Y-%m-%d %H:%M:%S")
    assert str(out.select("timestamp").first()[0]) == "2025-10-10 13:55:36"
    df2 = _one(spark, "x").withColumn("t", F.lit("1760104536"))
    out2 = parsers.time_parser(df2, "t", "s", layout_type="epoch")
    assert out2.select(F.unix_timestamp("timestamp")).first()[0] == 1760104536


def test_severity_parser_aliases_and_canonical_text(spark):
    df = spark.createDataFrame(
        [{"lvl": v} for v in ["warning", "ERROR", "Info", "Err3", "crit", "nonsense"]]
    )
    out = parsers.severity_parser(df, "lvl").orderBy("lvl").collect()
    got = {r["lvl"]: (r["severity_number"], r["severity_text"]) for r in out}
    assert got["warning"] == (13, "WARN")
    assert got["ERROR"] == (17, "ERROR")
    assert got["Info"] == (9, "INFO")
    assert got["Err3"] == (19, "ERROR3")
    # not in the reference's default mapping
    assert got["crit"] == (0, "")
    assert got["nonsense"] == (0, "")


def test_uri_parser(spark):
    df = _one(spark, "https://example.com:8080/api/v1?x=1&y=2")
    attrs = parsers.uri_parser(df).select("attributes").first()[0]
    assert attrs["scheme"] == "https"
    assert attrs["host"] == "example.com"
    assert attrs["port"] == "8080"
    assert attrs["path"] == "/api/v1"
    assert attrs["query"] == "x=1&y=2"


def test_trace_parser(spark):
    df = _one(spark, "x").withColumn("tid", F.lit("4BF92F3577B34DA6A3CE929D0E0E4736"))
    r = parsers.trace_parser(df, trace_id_from="tid").first()
    assert r["trace_id"] == "4bf92f3577b34da6a3ce929d0e0e4736"


def test_jsonarray_parser(spark):
    df = _one(spark, '["a","b","c"]')
    r = parsers.jsonarray_parser(df).select("parsed_array").first()[0]
    assert r == ["a", "b", "c"]


def test_journald_parser(spark):
    import json as _j

    from opentelemetry_collector_contrib_spark.operators import parsers

    good = {
        "__REALTIME_TIMESTAMP": "1700000000123456",
        "__CURSOR": "s=abc;i=1",
        "MESSAGE": "unit started",
        "PRIORITY": "3",
        "_SYSTEMD_UNIT": "nginx.service",
    }
    rows = [(_j.dumps(good),), ('{"MESSAGE":"no ts"}',), ("not json",)]
    df = spark.createDataFrame(rows, "body string")
    out = parsers.journald_parser(df).collect()
    ok = out[0]
    assert ok["cursor"] == "s=abc;i=1"
    assert ok["message"] == "unit started"
    assert ok["severity_number"] == 17  # PRIORITY 3 = err
    assert ok["attributes"]["_SYSTEMD_UNIT"] == "nginx.service"
    assert "__REALTIME_TIMESTAMP" not in ok["attributes"]
    assert ok["ts"].isoformat().startswith("2023-11-14")
    # missing timestamp / non-JSON -> parse failure (NULL attributes)
    assert out[1]["attributes"] is None and out[2]["attributes"] is None
    # on_error='drop' removes the failures entirely
    assert parsers.journald_parser(df, on_error="drop").count() == 1


def test_windows_event_parser(spark):
    from opentelemetry_collector_contrib_spark.operators import parsers

    xml_evt = (
        '<Event xmlns="http://schemas.microsoft.com/win/2004/08/events/event">'
        '<System>'
        '<Provider Name="Microsoft-Windows-Security-Auditing" '
        'Guid="{54849625-5478-4994-a5ba-3e3b0328c30d}"/>'
        '<EventID Qualifiers="0">4624</EventID>'
        '<Level>0</Level><Task>12544</Task><Opcode>0</Opcode>'
        '<Keywords>0x8020000000000000</Keywords>'
        '<TimeCreated SystemTime="2024-03-01T10:20:30.123456700Z"/>'
        '<EventRecordID>987654</EventRecordID>'
        '<Execution ProcessID="716" ThreadID="2388"/>'
        '<Channel>Security</Channel><Computer>WIN-HOST</Computer>'
        '<Security UserID="S-1-5-18"/>'
        '</System>'
        '<EventData>'
        '<Data Name="TargetUserName">alice</Data>'
        '<Data Name="LogonType">3</Data>'
        '</EventData>'
        '<RenderingInfo Culture="en-US">'
        '<Message>An account was successfully logged on.</Message>'
        '<Level>Information</Level><Task>Logon</Task><Opcode>Info</Opcode>'
        '<Keywords><Keyword>Audit Success</Keyword></Keywords>'
        '</RenderingInfo>'
        '</Event>'
    )
    df = spark.createDataFrame([(xml_evt,), ("<NotAnEvent/>",), ("garbage",)], "body string")
    out = parsers.windows_event_parser(df).collect()
    a = out[0]["attributes"]
    assert a["event_id.id"] == "4624" and a["event_id.qualifiers"] == "0"
    assert a["provider.name"] == "Microsoft-Windows-Security-Auditing"
    assert a["computer"] == "WIN-HOST" and a["channel"] == "Security"
    assert a["record_id"] == "987654"
    # rendered values win over System numerics
    assert a["level"] == "Information" and a["task"] == "Logon"
    assert a["keywords"] == "Audit Success"
    assert a["message"] == "An account was successfully logged on."
    assert a["event_data.TargetUserName"] == "alice"
    assert a["event_data.LogonType"] == "3"
    assert a["security.user_id"] == "S-1-5-18"
    assert a["execution.process_id"] == "716"
    assert out[0]["severity_number"] == 9
    assert out[0]["ts"].year == 2024
    # non-event XML and garbage are parse failures
    assert out[1]["attributes"] is None and out[2]["attributes"] is None
    assert parsers.windows_event_parser(df, on_error="drop").count() == 1
    # numeric-level fallback when RenderingInfo is absent
    bare = xml_evt.replace(
        "<Level>0</Level>", "<Level>2</Level>"
    )
    bare = bare[: bare.index("<RenderingInfo")] + "</Event>"
    sev = parsers.windows_event_parser(
        spark.createDataFrame([(bare,)], "body string")
    ).first()["severity_number"]
    assert sev == 17  # System Level 2 -> Error


def test_grok_impls_agree_on_non_ascii(spark):
    """Java regex (the jvm impl) and RE2 (the arrow impl, go-grok's own
    engine family) both treat \\w as ASCII, so %{WORD} rejects 'émile'
    in BOTH impls."""
    from opentelemetry_collector_contrib_spark.functions.grok import grok_extract

    df = spark.createDataFrame(
        [("user=émile id=42",), ("user=bob id=7",), ("étoile 99",)], "body string"
    )
    pat = "user=%{WORD:user} id=%{INT:id}"
    a = [
        None if r[0] is None else dict(r[0])
        for r in df.select(grok_extract(F.col("body"), pat, impl="jvm")).collect()
    ]
    b = [
        None if r[0] is None else dict(r[0])
        for r in df.select(grok_extract(F.col("body"), pat, impl="arrow")).collect()
    ]
    assert a == b == [None, {"user": "bob", "id": "7"}, None]
