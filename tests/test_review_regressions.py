"""Regression tests for review-pass fixes: parser drop semantics, literal
delimiters, extract-on-match-only, partial-line content, salt spread."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import parsers, processors, transformers
from opentelemetry_collector_contrib_spark.operators.enrich import salted_repartition


def test_regex_parser_on_error_drop_actually_drops(spark):
    df = spark.createDataFrame(
        [("code=42",), ("garbage line",)], "body string"
    )
    out = parsers.regex_parser(df, r"code=(?P<code>\d+)", on_error="drop")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["attributes"] == {"code": "42"}
    # send mode keeps both; non-matching row has NULL attributes
    kept = parsers.regex_parser(df, r"code=(?P<code>\d+)", on_error="send")
    got = {r["body"]: r["attributes"] for r in kept.collect()}
    assert got["code=42"] == {"code": "42"} and got["garbage line"] is None


def test_regex_parser_send_does_not_clobber_existing_attrs(spark):
    df = spark.createDataFrame([("nope",)], "body string").withColumn(
        "attributes", F.create_map(F.lit("code"), F.lit("keep-me"))
    )
    out = parsers.regex_parser(df, r"code=(?P<code>\d+)", on_error="send")
    assert out.first()["attributes"] == {"code": "keep-me"}


def test_keyvalue_parser_regex_metachar_delimiters(spark):
    df = spark.createDataFrame([("a=1|b=2",)], "body string")
    out = parsers.keyvalue_parser(df, delimiter="=", pair_delimiter="|")
    assert out.first()["attributes"] == {"a": "1", "b": "2"}
    df2 = spark.createDataFrame([("x.1 y.2",)], "body string")
    out2 = parsers.keyvalue_parser(df2, delimiter=".", pair_delimiter=" ")
    assert out2.first()["attributes"] == {"x": "1", "y": "2"}


def test_attributes_extract_only_on_match(spark):
    df = spark.createDataFrame([(1,), (2,)], "id long").withColumn(
        "attributes",
        F.when(
            F.col("id") == 1, F.create_map(F.lit("msg"), F.lit("code=7"), F.lit("code"), F.lit("old"))
        ).otherwise(F.create_map(F.lit("msg"), F.lit("nope"), F.lit("code"), F.lit("old"))),
    )
    out = processors.attributes_processor(
        df, [processors.AttrAction("extract", "msg", pattern=r"code=(?P<code>\d+)")]
    )
    got = {r["id"]: r["attributes"]["code"] for r in out.collect()}
    assert got == {1: "7", 2: "old"}  # non-matching row keeps old value


def test_logdedup_exclude_fields_default_key(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", "x")],
        "ts long, body string, noise string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    out = processors.logdedup_processor(
        df, interval_seconds=3600, ts_col="ts", exclude_fields=["noise"]
    )
    got = {r["body"]: r["log_count"] for r in out.collect()}
    assert got == {"a": 2, "b": 1}  # 'noise' excluded from the dedup key


def test_partial_line_merge_uses_parsed_log(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, "raw1", {"logtag": "P", "log": "foo"}),
            ("a", 2, "raw2", {"logtag": "F", "log": "bar"}),
        ],
        "source string, ingest_ts long, body string, attributes map<string,string>",
    )
    out = transformers.recombine_partial_lines(df)
    assert out.first()["body"] == "foobar"  # parsed content, not raw lines


def test_salted_repartition_key_is_first_column(spark):
    # key == first column used to degenerate to one salt value
    df = spark.range(1000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("source"),
        F.col("id"),
    )
    out = salted_repartition(df, "source", salt_buckets=8, num_partitions=8)
    parts = (
        out.withColumn("p", F.spark_partition_id())
        .filter(F.col("source") == "hot").select("p").distinct().count()
    )
    assert parts >= 4


def test_assign_keys_short_list_pads_null(spark):
    df = spark.createDataFrame([(["only"],)], "vals array<string>")
    out = transformers.assign_keys(df, "vals", ["a", "b"])
    m = out.first()["attributes"]
    assert m["a"] == "only" and m["b"] is None


# ---------------------------------------------------------------------------
# round-2 ADVICE fixes
# ---------------------------------------------------------------------------


def test_parse_records_pandas_without_fmt_column(spark):
    """Without a fmt column every payload auto-detects: the arrow engine
    receives the missing fmt as Arrow nulls, not as containerd tags."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import parse_records

    df = spark.createDataFrame(
        [
            ('{"a": 1, "ok": true}',),
            ("k=v x=2",),
            ('10.0.0.1 - bob [10/Oct/2025:13:55:36 +0000] "GET /p HTTP/1.1" 200 10',),
        ],
        "body string",
    )
    out = parse_records(df, impl="arrow")
    got = [r["attributes"] for r in out.collect()]
    assert got[0]["a"] == "1" and got[0]["ok"] == "true"
    assert got[1] == {"k": "v", "x": "2"}
    assert got[2]["method"] == "GET" and got[2]["status"] == "200"


def test_parse_pandas_json_value_parity_with_jvm(spark):
    """Booleans/nested objects stringify as JSON text ('true', compact
    object), matching the from_json map<string,string> path."""
    from opentelemetry_collector_contrib_spark.functions.vparse import _parse_one

    got = _parse_one('{"b": false, "o": {"k": 1}, "f": 1.5, "s": "x"}', 1)
    assert got == {"b": "false", "o": '{"k":1}', "f": "1.5", "s": "x"}


def test_salted_repartition_with_map_column(spark):
    """xxhash64 rejects MapType; log frames always carry attributes maps —
    salt must skip/convert them instead of raising DATATYPE_MISMATCH."""
    df = spark.createDataFrame(
        [(i, "hot") for i in range(200)], "id long, source string"
    ).withColumn("attributes", F.create_map(F.lit("k"), F.col("id").cast("string")))
    out = salted_repartition(df, "source", salt_buckets=8, num_partitions=8)
    assert out.count() == 200
    used = out.rdd.glom().map(len).filter(lambda n: n > 0).count()
    assert used >= 4  # hot key spread over several partitions


def test_spanmetrics_exponential_null_dim_groups_survive(spark):
    from opentelemetry_collector_contrib_spark.operators import connectors

    df = spark.createDataFrame(
        [(None, 4_000_000), (None, 8_000_000), ("svc", 4_000_000)],
        "service string, duration_ns long",
    )
    out = connectors.spanmetrics_exponential(df, dims=["service"], scale=1)
    rows = {(r["service"], r["bucket_index"]): r for r in out.collect()}
    null_rows = [k for k in rows if k[0] is None]
    assert null_rows, "NULL dim group was dropped by the totals join"
    assert rows[null_rows[0]]["calls"] == 2


def test_duplicate_clusters_raises_on_non_convergence(spark):
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.dataprep import dedup

    # a 6-node chain needs >1 round; max_iter=1 must fail loudly
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iter=1)


# round-2 second review pass


def test_salted_repartition_map_of_maps(spark):
    df = spark.createDataFrame(
        [(i, "hot") for i in range(20)], "id long, source string"
    ).withColumn(
        "nested",
        F.create_map(
            F.lit("outer"), F.create_map(F.lit("k"), F.col("id").cast("string"))
        ),
    )
    from opentelemetry_collector_contrib_spark.operators.enrich import salted_repartition

    assert salted_repartition(df, "source", salt_buckets=4, num_partitions=4).count() == 20


def test_pack_sequences_null_tokens_do_not_drop_shard(spark):
    from opentelemetry_collector_contrib_spark.dataprep import packing

    docs = spark.createDataFrame(
        [(0, [1, 2, 3]), (3, None), (6, [4, 5]), (1, [7, 8])],
        "doc_id long, tokens array<int>",
    )
    out = packing.pack_sequences(docs, max_len=4, num_shards=3).collect()
    # shard 0 holds docs 0,3,6: the NULL doc must not erase tokens 1..5
    assert sum(r["n_tok"] for r in out) == 7


def test_exponential_zero_count_only_on_null_index_row(spark):
    from opentelemetry_collector_contrib_spark.operators import processors as P

    df = spark.createDataFrame(
        [("m", 5, 10, None), ("m", None, 0, 7)],
        "dim string, bucket_index int, bucket_count long, zero_count long",
    )
    out = P.exponential_to_explicit_histogram(
        df, [0.0, 100.0], dims=["dim"], scale=0
    ).first()
    assert out["bucket_counts"][0] == 17  # 10 (bucket) + 7 (zero), never lost


# round-3 advisor findings


def test_token_span_duplication_short_docs_no_crash(spark):
    from opentelemetry_collector_contrib_spark.dataprep.packing import (
        token_span_duplication,
    )

    docs = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5]), (2, list(range(100, 120))), (3, list(range(100, 120)))],
        "doc_id long, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in token_span_duplication(docs, span_len=16).collect()}
    assert out[1]["dup_spans"] == 0 and out[1]["span_fraction"] == 0.0
    assert out[2]["dup_spans"] == 5 and out[3]["dup_spans"] == 5


def test_simhash_high_bits_vary(spark):
    from opentelemetry_collector_contrib_spark.dataprep import dedup

    docs = spark.createDataFrame(
        [(i, f"word{i} alpha{i} beta{i} gamma{i} delta{i}") for i in range(40)],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in docs.select(
        dedup.simhash(F.col("text"), 60).alias("fp")).collect()]
    # the round-2 bug: a 32-bit word hash froze every fingerprint bit >= 32
    high_or = 0
    for fp in fps:
        high_or |= fp >> 32
    assert high_or != 0, "fingerprint bits >= 32 never vary"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        docs.select(dedup.simhash(F.col("text"), 61))


def test_tail_sampling_drop_only_policies_raise(spark):
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.operators import processors as P

    df = spark.createDataFrame(
        [("t1", "error"), ("t2", "ok")], "trace_id string, status string"
    )
    with _pytest.raises(ValueError, match="non-drop"):
        P.tail_sampling_policies(
            df,
            [P.TailPolicy(name="noise", kind="drop", subpolicies=[
                P.TailPolicy(name="s", kind="agg",
                             cond=F.max(F.col("status") == "ok"))])],
        )


def test_rfc5424_structured_data_escaped_quotes(spark):
    from opentelemetry_collector_contrib_spark.operators import parsers

    line = (
        '<165>1 2024-01-02T03:04:05Z host app 123 ID47 '
        '[ex@32473 msg="say \\"hi\\" now" x="1"] body text'
    )
    df = spark.createDataFrame([(line,)], "body string")
    out = parsers.syslog_parser(df).first()
    attrs = out["attributes"]
    assert attrs["structured_data.ex@32473.msg"] == 'say "hi" now'
    assert attrs["structured_data.ex@32473.x"] == "1"


# ---------------------------------------------------------------------------
# round-3 second review pass
# ---------------------------------------------------------------------------


def test_cosine_zero_norm_vector_yields_null(spark):
    """An all-zero embedding (OOV/padding) must NULL the similarity, not
    raise ANSI DIVIDE_BY_ZERO and kill the job."""
    from opentelemetry_collector_contrib_spark.dataprep import similarity as S

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert got[0]["c"] is None
    assert abs(got[1]["c"] - 1.0) < 1e-9


def test_ivf_pandas_assignment_null_embedding(spark):
    """The default pandas IVF cell assigner must tolerate NULL embeddings
    like its catalyst mirror (NULL cell, not an Arrow-UDF crash)."""
    from opentelemetry_collector_contrib_spark.dataprep.similarity import (
        _assign_cells_pandas,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.1]), (2, None), (3, [5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    out = df.select(
        "vec_id",
        _assign_cells_pandas(
            F.col("embedding"), [[0.0, 0.0], [5.0, 5.0]], nprobe=2
        ).alias("a"),
    ).collect()
    got = {r["vec_id"]: r["a"] for r in out}
    assert got[1]["cell"] == 0 and got[3]["cell"] == 1
    assert got[2]["cell"] is None and got[2]["probes"] is None


def test_sumologic_aggregate_attributes_existing_target_key(spark):
    """A non-matching attribute named like the target key is overwritten
    (pdata PutEmptyMap), not a DUPLICATED_MAP_KEY crash; two keys
    stripping to the same name resolve last-wins (pdata Put)."""
    from opentelemetry_collector_contrib_spark.operators import sumologic as SU

    # map() literals (unlike python dicts) preserve entry order, making
    # the last-wins assertion deterministic
    df = spark.range(1).select(
        F.expr("map('pod','x','pod_name','y')").alias("m0"),
        F.expr("map('a.x','1','b.x','2')").alias("m1"),
    )
    out = df.select(
        SU.aggregate_attributes(
            F.col("m0"), [("pod", ["pod_"])]
        ).alias("r0"),
        SU.aggregate_attributes(
            F.col("m1"), [("t", ["a.", "b."])]
        ).alias("r1"),
    ).first()
    assert out["r0"]["pod"] == '{"name":"y"}'  # aggregate overwrote the scalar
    assert out["r1"]["t"] == '{"x":"2"}'  # b.x (later entry) won


def test_sumologic_docker_rename_collision_last_wins(spark):
    from opentelemetry_collector_contrib_spark.operators import sumologic as SU

    df = spark.createDataFrame(
        [("m", {"container.id": "abc", "container.FullID": "def"})],
        "metric string, attributes map<string,string>",
    )
    out = SU.translate_docker_metrics(df).first()
    # no DUPLICATED_MAP_KEY; the rename (later map entry wins) survives
    assert out["attributes"]["container.FullID"] in {"abc", "def"}
    assert "container.id" not in out["attributes"]


def test_datadog_incoming_error_fields_survive_non_error_span(spark):
    from opentelemetry_collector_contrib_spark.operators.datadog import (
        datadog_semantics,
    )

    df = spark.createDataFrame(
        [
            (
                "s1", "server", "STATUS_CODE_OK", None,
                {"datadog.error.msg": "upstream says boom",
                 "datadog.error": "true"},
                {},
            )
        ],
        "span_name string, span_kind string, status_code string,"
        " status_message string, attributes map<string,string>,"
        " resource_attributes map<string,string>",
    )
    row = datadog_semantics(df).first()
    # incoming datadog.error.msg wins even though the span is not an error
    assert row["datadog_error_msg"] == "upstream says boom"
    # non-numeric incoming datadog.error does not ANSI-crash; falls back
    # to the derived 0 (span is OK)
    assert row["datadog_error"] == 0


def test_gopher_signals_ignore_empty_tokens(spark):
    from opentelemetry_collector_contrib_spark.dataprep import textstats as TS

    clean = "the quick brown fox jumps over the lazy dog again and again"
    spaced = clean.replace("fox ", "fox        ")  # aligned-column spaces
    df = spark.createDataFrame([(clean,), (spaced,)], "text string")
    got = df.select(
        TS.max_word_run(F.col("text")).alias("run"),
        TS.mean_word_length(F.col("text")).alias("mwl"),
    ).collect()
    assert got[0]["run"] == got[1]["run"] == 1
    assert got[0]["mwl"] == got[1]["mwl"]


def test_udp_reader_resyncs_offsets_after_restart():
    """A fresh reader restarted from a checkpointed offset must not emit
    new datagrams at sequence numbers inside the committed range."""
    from opentelemetry_collector_contrib_spark.sources.udp_source import (
        UdpLogStreamReader,
    )

    r = UdpLogStreamReader({"port": "0", "idle_ms": "50"})
    rows, end = r.read({"seq": 1000})
    assert list(rows) == []  # nothing received
    assert end["seq"] >= 1000  # counter resynced, no regression below start
    r._sock.close()


def test_coralogix_zero_parent_span_is_parentless(spark):
    """OTLP wire convention: parent_span_id='0'*16 marks a root. The
    zero-parent span must win root election even when a child starts
    earlier (clock skew)."""
    from opentelemetry_collector_contrib_spark.operators.coralogix import (
        coralogix_transactions,
    )

    rows = [
        # child starts EARLIER than the true root
        ("t1", "aa", "bb", "child-op", "internal", 5),
        ("t1", "bb", "0" * 16, "root-op", "internal", 10),
    ]
    df = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "span_name string, span_kind string, start_ts long",
    )
    out = {r["span_id"]: r for r in coralogix_transactions(df).collect()}
    assert out["bb"]["cgx_transaction"] == "root-op"
    assert out["bb"]["cgx_transaction_root"] is True
    assert out["aa"]["cgx_transaction"] == "root-op"


def test_coralogix_numeric_span_kind_is_boundary(spark):
    """OTLP enum integers (2=SERVER, 5=CONSUMER) must start transactions
    like their string forms."""
    from opentelemetry_collector_contrib_spark.operators.coralogix import (
        coralogix_transactions,
    )

    rows = [
        ("t1", "r", None, "root-op", "1", 0),        # INTERNAL root
        ("t1", "s", "r", "server-op", "2", 1),       # SERVER boundary
        ("t1", "c", "s", "leaf-op", "1", 2),
    ]
    df = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "span_name string, span_kind string, start_ts long",
    )
    out = {r["span_id"]: r for r in coralogix_transactions(df).collect()}
    assert out["s"]["cgx_transaction"] == "server-op"
    assert out["s"]["cgx_transaction_root"] is True
    assert out["c"]["cgx_transaction"] == "server-op"


def test_dsir_join_path_keeps_empty_docs_and_nulls_on_missing_bucket(spark):
    from opentelemetry_collector_contrib_spark.dataprep import dsir

    raw = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    B = 16
    # full-spine ratio table: join path == literal-map path, empty docs 0.0
    target = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    ratios = dsir.dsir_log_ratio_table(
        spark,
        dsir.bucket_counts(target, buckets=B),
        dsir.bucket_counts(raw, buckets=B),
        buckets=B,
    )
    joined = {r["doc_id"]: r["logw"] for r in dsir.dsir_weights_join(raw, ratios, buckets=B).collect()}
    rdict = {r["bucket"]: r["log_ratio"] for r in ratios.collect()}
    lit = {
        r["doc_id"]: r["logw"]
        for r in raw.select(
            "doc_id", dsir.dsir_weight(F.col("text"), rdict, B).alias("logw")
        ).collect()
    }
    assert set(joined) == {1, 2, 3}, "empty/whitespace docs must not vanish"
    for d in (1, 2, 3):
        assert joined[d] == lit[d]
    assert joined[2] == 0.0 and joined[3] == 0.0
    # a ratio table NOT covering every bucket must NULL the whole doc's
    # weight (both paths), never sum a subset of its grams
    partial = ratios.limit(1)
    jp = {r["doc_id"]: r["logw"] for r in dsir.dsir_weights_join(raw, partial, buckets=B).collect()}
    assert jp[1] is None


def test_split_null_keys_do_not_follow_dict_order(spark):
    from opentelemetry_collector_contrib_spark.dataprep.split import hash_split

    df = spark.createDataFrame(
        [(None,), (None,), ("a",), ("b",)], "doc_id string"
    )
    w1 = {"train": 0.9, "val": 0.05, "test": 0.05}
    w2 = {"test": 0.05, "val": 0.05, "train": 0.9}
    s1 = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", w1).collect()}
    s2 = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", w2).collect()}
    # NULL keys get a real (hash-determined) split, identical across
    # weight-dict orderings — not the last-listed split
    assert s1[None] is not None
    assert s1[None] == s2[None]
    assert s1["a"] == s2["a"] and s1["b"] == s2["b"]


def test_groupbytrace_buffer_fn_all_null_event_times():
    """A first batch whose spans all lack event time must not poison the
    trace timer with int64-min garbage (NaT.value)."""
    import pandas as pd

    from opentelemetry_collector_contrib_spark.streaming.stateful import (
        _make_buffer_fn,
    )

    class FakeState:
        hasTimedOut = False
        exists = False

        def __init__(self):
            self.updated = None
            self.timeout = None

        def update(self, v):
            self.updated = v

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def getCurrentWatermarkMs(self):
            return 1_000_000

    fn = _make_buffer_fn(wait_ms=5_000)
    pdf = pd.DataFrame(
        {"__span": ["s1", "s2"], "__ts": pd.to_datetime([None, None])}
    )
    st = FakeState()
    list(fn(("trace-1",), iter([pdf]), st))
    first_ms, spans = st.updated
    assert spans == ["s1", "s2"], "null-ts spans still buffer (lossless)"
    assert first_ms == 1_000_000, "anchor falls back to the watermark"
    assert st.timeout == 1_000_000 + 5_000


def test_line_dedup_raw_mode_preserves_blank_lines(spark):
    from opentelemetry_collector_contrib_spark.dataprep.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\n\nb\n\nc"), (2, "x\n\ny")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # blank separators are structure, not content — never deduplicated
    assert out[1]["text_dedup"] == "a\n\nb\n\nc"
    assert out[2]["text_dedup"] == "x\n\ny"
    assert out[1]["n_removed"] == 0 and out[2]["n_removed"] == 0


def test_line_dedup_null_text_keeps_row(spark):
    from opentelemetry_collector_contrib_spark.dataprep.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert set(out) == {1, 2}, "NULL-text docs must not vanish"
    assert out[2]["text_dedup"] == "" and out[2]["n_removed"] == 0


def test_sign_bucket_dim_mismatch_fails_loudly(spark):
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.dataprep.similarity import sign_bucket

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(128)]), (2, None)],
        "vec_id long, embedding array<float>",
    )
    # wrong dim: must raise, never silently bucket everything to 0
    with _pytest.raises(Exception, match="hyperplane dim"):
        df.select(sign_bucket(F.col("embedding"), 4, dim=64)).collect()
    # right dim: NULL embedding gets a NULL bucket, not bucket 0
    rows = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", sign_bucket(F.col("embedding"), 4, dim=128).alias("b")
        ).collect()
    }
    assert rows[1] is not None and rows[2] is None


def test_ivf_catalyst_and_fit_tolerate_null_embeddings(spark):
    from opentelemetry_collector_contrib_spark.dataprep.similarity import (
        ivf_fit_centroids,
        ivf_topk,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, None),
            (3, [0.9, 0.1]),
            (4, [0.1, 0.9]),
            (5, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    # the fit must not NPE on the NULL row
    cents = ivf_fit_centroids(df, k=2, seed=7)
    assert len(cents) == 2
    got = {}
    for impl in ("pandas", "catalyst"):
        rows = ivf_topk(
            df, centroids=cents, nprobe=2, k=1, impl=impl
        ).collect()
        ids = {r["vec_id"] for r in rows}
        assert 2 not in ids, f"{impl}: NULL embedding must emit no rows"
        assert all(r["cos"] is not None for r in rows)
        got[impl] = sorted((r["vec_id"], r["neighbor_id"]) for r in rows)
    assert got["pandas"] == got["catalyst"]


def test_duplicate_clusters_long_chain_converges_logarithmically(spark):
    from opentelemetry_collector_contrib_spark.dataprep import dedup

    # a 200-node duplicate chain: diameter 199, pointer jumping must
    # converge well inside the default max_iter=20 (~log2 rounds);
    # one-hop propagation would need ~200 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    labels = dedup.duplicate_clusters(pairs).collect()
    assert len(labels) == 201
    assert all(r["cluster"] == 0 for r in labels)


def test_ottl_and_binds_tighter_than_or(spark):
    """OTTL grammar: `a or b and c` is `a or (b and c)` — a flat
    left-to-right fold would build `(a or b) and c` and silently drop
    ERROR rows without env=prod."""
    from opentelemetry_collector_contrib_spark.functions.ottl_parser import (
        parse_condition,
    )

    df = spark.createDataFrame(
        [
            ("ERROR", "dev"),
            ("WARN", "prod"),
            ("WARN", "dev"),
            ("INFO", "prod"),
        ],
        "severity_text string, env string",
    )
    cond = parse_condition(
        'severity_text == "ERROR" or severity_text == "WARN" and env == "prod"'
    )
    got = {(r["severity_text"], r["env"]) for r in df.filter(cond).collect()}
    assert got == {("ERROR", "dev"), ("WARN", "prod")}


def test_ottl_binary_minus_without_spaces(spark):
    from opentelemetry_collector_contrib_spark.functions.ottl_parser import (
        parse_condition,
        parse_statement,
    )

    df = spark.createDataFrame([("abc", 3), ("x", 1)], "body string, n int")
    # `Len(body)-1` must lex as binary minus, not the literal -1
    cond = parse_condition("Len(body)-1 == 2")
    assert [r["body"] for r in df.filter(cond).collect()] == ["abc"]
    # signed literals still work after commas/operators/parens
    st = parse_statement('set(attributes["k"], -1) where n > -2')
    assert st is not None


def test_ottl_uuidv7_zero_args(spark):
    from opentelemetry_collector_contrib_spark.functions.ottl_parser import (
        parse_statement,
    )

    df = spark.createDataFrame([("a",)], "body string").withColumn(
        "attributes", F.create_map(F.lit("x"), F.lit("y"))
    )
    st = parse_statement('set(attributes["id"], UUIDv7())')
    out = st.apply(df).first()["attributes"]["id"]
    assert out is not None and out[14] == "7"  # version nibble


def test_stateful_delta_tied_timestamps(spark, tmp_path):
    """Duplicate timestamps within a stream: the carried running sum must
    include every tied row, not whichever tied row max_by happens to pick."""
    import json

    from opentelemetry_collector_contrib_spark.streaming import stream as S

    src = tmp_path / "in_tied"
    src.mkdir()
    rows = [
        {"ts": "2025-10-10T13:00:01.000Z", "stream": "s1", "value": 5.0},
        {"ts": "2025-10-10T13:00:01.000Z", "stream": "s1", "value": 7.0},
    ]
    (src / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    def read_stream():
        return (
            spark.readStream.schema("ts string, stream string, value double")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
        )

    def run():
        q = S.stateful_delta_to_cumulative(
            read_stream(),
            ["stream"],
            ts_col="ts",
            state_path=str(tmp_path / "state_t"),
            output_path=str(tmp_path / "out_t"),
            checkpoint=str(tmp_path / "ck_t"),
        ).start()
        q.awaitTermination(120)

    run()
    (src / "b2.jsonl").write_text(
        json.dumps(
            {"ts": "2025-10-10T13:00:02.000Z", "stream": "s1", "value": 1.0}
        )
        + "\n"
    )
    run()
    got = {
        (r["value"], r["cumulative"])
        for r in spark.read.parquet(str(tmp_path / "out_t")).collect()
    }
    # batch 2's cumulative must be 5 + 7 + 1 = 13, never 5 + 1
    assert (1.0, 13.0) in got
    # deterministic per-row csums within the tie: value orders the window
    assert (5.0, 5.0) in got and (7.0, 12.0) in got
    # retention: at most the current + one predecessor state version
    import os

    versions = [d for d in os.listdir(tmp_path / "state_t") if d.startswith("v=")]
    assert len(versions) <= 2


def test_textstats_ignore_empty_tokens(spark):
    from opentelemetry_collector_contrib_spark.dataprep import textstats

    df = spark.createDataFrame(
        [(1, "the  cat  sat"), (2, "the cat sat")], "doc_id long, text string"
    )
    ws, _bpe = textstats.token_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            ws.alias("ws"),
            F.round(textstats.english_ratio(F.col("text")), 4).alias("er"),
            textstats.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    # doubled spaces must not pad counts, deflate ratios, or shift the fp
    assert out[1]["ws"] == out[2]["ws"] == 3
    assert out[1]["er"] == out[2]["er"] == round(1 / 3, 4)
    assert out[1]["fp"] == out[2]["fp"]


def test_symbol_ratio_keeps_accented_text(spark):
    from opentelemetry_collector_contrib_spark.dataprep import textstats

    df = spark.createDataFrame(
        [(1, "café déjà vu élève très tôt"), (2, "a # b # c … d ...")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", textstats.symbol_word_ratio(F.col("text")).alias("s")
        ).collect()
    }
    # accented letters are letters, not Gopher symbols
    assert out[1] == 0.0
    # 2 hashes + 1 ellipsis char + 1 three-dot ellipsis over 8 words
    assert out[2] == round(4 / 8, 4)


def test_convert_sum_to_gauge_drops_sum_metadata(spark):
    from opentelemetry_collector_contrib_spark.operators import metric_funcs as MF

    df = spark.createDataFrame(
        [
            ("requests", "sum", "delta", True),
            ("temp", "gauge", None, None),
        ],
        "metric string, metric_type string, aggregation_temporality string, "
        "is_monotonic boolean",
    )
    out = {r["metric"]: r for r in MF.convert_sum_to_gauge(df).collect()}
    assert out["requests"]["metric_type"] == "gauge"
    assert out["requests"]["aggregation_temporality"] is None
    assert out["requests"]["is_monotonic"] is None


def test_parse_records_jvm_pandas_parity_on_malformed_rows(spark):
    """The jvm and arrow parse impls must agree on MALFORMED and
    NULL-fmt rows, not just happy paths: invalid/non-object JSON -> NULL
    map, '='-less kv pairs keep the key with a NULL value, regex
    no-match -> NULL, NULL fmt auto-detects in both."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import parse_records

    rows = [
        (1, '{"a": 1, "n": null}', 1),
        (2, "not json {", 1),          # invalid JSON
        (3, "null", 1),                # valid non-object JSON
        (4, "[1,2]", 1),               # valid non-object JSON
        (5, "k=v plain", 2),           # '='-less pair
        (6, "garbage apache line", 0), # regex no-match
        (7, '{"auto": "x"}', None),    # NULL fmt -> auto json
        (8, "a=1 b=2", None),          # NULL fmt -> auto kv
        (9, "2025-10-10T13:55:36Z stdout F ", 3),  # empty containerd log
        (10, None, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, fmt int")
    def attrs(impl):
        return {r["doc_id"]: r["attributes"] for r in parse_records(df, impl=impl).collect()}

    jvm = attrs("jvm")
    assert jvm == attrs("arrow")
    assert jvm[1] == {"a": "1", "n": None}
    assert jvm[2] is None and jvm[3] is None and jvm[4] is None
    assert jvm[5] == {"k": "v", "plain": None}
    assert jvm[6] is None
    assert jvm[7] == {"auto": "x"}
    assert jvm[8] == {"a": "1", "b": "2"}
    # empty 'log' group dropped on match (reference omits absent groups)
    assert jvm[9] == {"time": "2025-10-10T13:55:36Z", "stream": "stdout", "logtag": "F"}
    assert jvm[10] is None


def test_k8sattributes_null_resource_map_still_enriches(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import (
        k8sattributes_enrich,
    )

    df = spark.createDataFrame(
        [("10.0.0.1", None)],
        "pod_ip string, resource_attributes map<string,string>",
    )
    meta = spark.createDataFrame(
        [("10.0.0.1", "pod-a", "ns-a", "node-1")],
        "pod_ip string, pod_name string, namespace string, node_name string",
    )
    out = k8sattributes_enrich(df, meta).first()["resource_attributes"]
    assert out is not None
    assert out["k8s.pod.name"] == "pod-a"
    assert out["k8s.namespace.name"] == "ns-a"


def test_slice_fingerprint_distinguishes_duplicate_ids(spark):
    """xor alone collapses duplicate ids (h^h=0): [a,a,b] and [c,c,b]
    would fingerprint identically and run_resumable would falsely skip
    changed input."""
    from opentelemetry_collector_contrib_spark.sinks.lineage import slice_fingerprint

    d1 = spark.createDataFrame([("a",), ("a",), ("b",)], "doc_id string")
    d2 = spark.createDataFrame([("c",), ("c",), ("b",)], "doc_id string")
    assert slice_fingerprint(d1, "doc_id") != slice_fingerprint(d2, "doc_id")
    # stable across partitionings
    assert slice_fingerprint(d1.repartition(5), "doc_id") == slice_fingerprint(
        d1, "doc_id"
    )


def test_fanout_counts_include_unlisted_routes(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.sinks.fanout import (
        write_fanout_with_counts,
    )

    df = spark.createDataFrame(
        [(1, "errors"), (2, "growth"), (3, "growth")], "id long, route string"
    )
    counts = write_fanout_with_counts(df, str(tmp_path / "s"), ["errors"])
    assert counts["errors"] == 1
    assert counts["__unlisted"] == 2
    assert sum(counts.values()) == 3


def test_grok_sentinel_reserved_in_custom_definitions(spark):
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.functions import grok

    with _pytest.raises(ValueError, match="reserved"):
        grok.expand("%{FOO:key}", custom={"FOO": r"(?P<grok0>x)"})


def test_csv_parser_field_count_mismatch_null_map(spark):
    df = spark.createDataFrame([("a,b",), ("x,y,z",), ("p,q,r,s",)], "body string")
    out = parsers.csv_parser(df, header=["c1", "c2", "c3"])
    got = {r["body"]: r["attributes"] for r in out.collect()}
    # a short or long row fails the entry (MapCSVHeaders: "wrong number of
    # fields") instead of padding with NULL or dropping the extra fields
    assert got["a,b"] is None
    assert got["p,q,r,s"] is None
    assert got["x,y,z"] == {"c1": "x", "c2": "y", "c3": "z"}


def test_csv_repeated_header_last_wins(spark):
    """A repeated header name keeps its last field (the Go map overwrite)
    instead of aborting the job with DUPLICATED_MAP_KEY."""
    from opentelemetry_collector_contrib_spark.functions.ottl_parser import apply_statements

    df = spark.createDataFrame([("1,2,3",), ('"4",5,"6"',)], "body string")
    got = {
        r["body"]: r["attributes"]
        for r in parsers.csv_parser(df, header=["k", "v", "k"]).collect()
    }
    assert got == {"1,2,3": {"k": "3", "v": "2"}, '"4",5,"6"': {"k": "6", "v": "5"}}
    out = apply_statements(
        df.withColumn("attributes", F.create_map().cast("map<string,string>")),
        ['set(attributes["k"], ParseCSV(body, ["k", "v", "k"])["k"])'],
    )
    assert sorted(r["attributes"]["k"] for r in out.collect()) == ["3", "6"]


def test_syslog_repeated_structured_data_keys_last_wins(spark):
    # RFC5424 6.3.2 allows repeated PARAM-NAMEs; repeated SD-IDs occur in
    # the wild — neither may abort the job with DUPLICATED_MAP_KEY
    line = '<34>1 2003-10-11T22:14:15.003Z host app 1 ID47 [ex a="1"][ex a="2" a="3"] msg'
    df = spark.createDataFrame([(line,)], "body string")
    attrs = parsers.syslog_parser(df, protocol="rfc5424").select(
        "attributes"
    ).first()[0]
    assert attrs["structured_data.ex.a"] == "3"  # last wins


def test_span_to_attributes_rule_with_literal_dollar(spark):
    from opentelemetry_collector_contrib_spark.operators.processors import (
        span_processor,
    )

    df = spark.createDataFrame(
        [("t", "pay 42$", {})],
        "trace_id string, span_name string, attributes map<string,string>",
    )
    out = span_processor(
        df, to_attributes_rules=[r"pay (?P<amount>\d+)\$"], name_col="span_name"
    ).first()
    # a literal '$' in the rule must not abort regexp_replace with
    # 'Illegal group reference'
    assert out["attributes"]["amount"] == "42"
    assert out["span_name"] == "pay {amount}$"


def test_flatten_null_nested_map_keeps_attributes(spark):
    df = spark.createDataFrame(
        [({"a": "1"}, None), ({"b": "2"}, {"x": "9"})],
        "attributes map<string,string>, nested map<string,string>",
    )
    out = {tuple(sorted(r["attributes"])): r["attributes"] for r in transformers.flatten(df, "nested").collect()}
    flat = list(out.values())
    by_has_a = {("a" in m): m for m in flat}
    assert by_has_a[True] == {"a": "1"}, "NULL nested map must not wipe attributes"
    assert by_has_a[False] == {"b": "2", "nested.x": "9"}


def test_deframe_octet_counting_non_ascii(spark):
    # RFC6587 counts OCTETS: 'héllo' is 5 chars but 6 bytes
    chunk = "6 héllo4 next"
    df = spark.createDataFrame([(chunk,)], "body string")
    frames = [r["body"] for r in parsers.deframe_octet_counting(df).collect()]
    assert frames == ["héllo", "next"]


def test_recombine_max_batch_size_splits_runaway_group(spark):
    rows = [("s", i, f"l{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "source string, ingest_ts long, body string")
    # boundary marker never fires -> one giant group, capped at 4 entries
    out = transformers.recombine(
        df, is_first_entry=F.lit(False), max_batch_size=4
    ).collect()
    sizes = sorted(len(r["body"].split("\n")) for r in out)
    assert sizes == [2, 4, 4]
    joined = "\n".join(sorted("\n".join(r["body"] for r in out).split("\n"), key=lambda x: int(x[1:])))
    assert joined == "\n".join(f"l{i}" for i in range(10))


def test_filter_with_count_empty_conditions(spark):
    from opentelemetry_collector_contrib_spark.operators.processors import (
        filter_with_count,
    )

    df = spark.createDataFrame([(1,), (2,)], "x long")
    kept, counts = filter_with_count(df, [])
    assert kept.count() == 2
    c = counts.first()
    assert c["dropped"] == 0 and c["records_in"] == 2


def test_xml_funcs_null_on_malformed_xml(spark):
    from opentelemetry_collector_contrib_spark.functions import xmlfuncs

    df = spark.createDataFrame(
        [("<a><b>1</b></a>",), ("a & b",), ("<a>1</a",)], "x string"
    )
    rows = df.select(
        xmlfuncs.get_xml(F.col("x"), "/a/b").alias("g"),
        xmlfuncs.parse_simplified_xml(F.col("x")).alias("p"),
    ).collect()
    # malformed rows yield NULL instead of aborting the whole job
    assert rows[0]["g"] == "<b>1</b>"
    assert rows[1]["g"] is None and rows[2]["g"] is None
    assert rows[1]["p"] is None and rows[2]["p"] is None


def test_parse_key_value_duplicates_last_wins(spark):
    from opentelemetry_collector_contrib_spark.functions import ottl

    df = spark.createDataFrame(
        [("a=1 a=2",), ("k=1  b=2  c=3",), ("x=1 y=2",)], "s string"
    )
    got = [r["m"] for r in df.select(ottl.parse_key_value(F.col("s")).alias("m")).collect()]
    assert got[0]["a"] == "2"
    # doubled pair delimiters make empty tokens; stanza's keyvalue parser
    # skips them — no spurious ''-key entry may survive
    assert got[1] == {"k": "1", "b": "2", "c": "3"}
    assert got[2] == {"x": "1", "y": "2"}


def test_flatten_attrs_collision_last_wins(spark):
    from opentelemetry_collector_contrib_spark.functions import ottl

    df = spark.createDataFrame([(1,)], "i long").select(
        ottl.flatten_attrs(
            F.create_map(
                F.lit("a.b"), F.lit("x"), F.lit("a"), F.lit('{"b":"y"}')
            )
        ).alias("m")
    )
    assert df.first()["m"] == {"a.b": "y"}  # promoted key wins, no crash


def test_type_and_decode_converters_null_on_malformed(spark):
    from opentelemetry_collector_contrib_spark.functions import ottl

    df = spark.createDataFrame([("abc", "!!!not-base64!!!")], "n string, b string")
    row = df.select(
        ottl.int_(F.col("n")).alias("i"),
        ottl.double_(F.col("n")).alias("d"),
        ottl.base64_decode(F.col("b")).alias("b64"),
        ottl.decode_(F.col("b"), "base64").alias("dec"),
    ).first()
    # ANSI mode would otherwise abort the job with CAST_INVALID_INPUT /
    # IllegalArgumentException on the first malformed row
    assert row["i"] is None and row["d"] is None
    assert row["b64"] is None and row["dec"] is None


def test_weekday_matches_go_semantics(spark):
    from opentelemetry_collector_contrib_spark.functions import ottl

    df = spark.createDataFrame(
        [("2024-06-17",), ("2024-06-16",)], "d string"  # Monday, Sunday
    )
    got = [r["w"] for r in df.select(ottl.weekday_(F.col("d").cast("date")).alias("w")).collect()]
    assert got == [1, 0]  # Go time.Weekday(): Sunday=0, Monday=1


def test_url_port_and_fragment(spark):
    from opentelemetry_collector_contrib_spark.functions import ottl

    df = spark.createDataFrame(
        [("https://example.com:8080/p?q=1#frag",), ("https://example.com",)],
        "u string",
    )
    got = [r["m"] for r in df.select(ottl.url_(F.col("u")).alias("m")).collect()]
    assert got[0]["url.port"] == "8080" and got[0]["url.fragment"] == "frag"
    assert got[0]["url.query"] == "q=1"
    # absent components are omitted, not empty strings
    assert "url.port" not in got[1] and "url.fragment" not in got[1]
    assert "url.query" not in got[1]
    assert got[1]["url.domain"] == "example.com"


def test_config_sampler_attribute_source_enum(spark):
    from opentelemetry_collector_contrib_spark.plans.config import (
        _collector_processor_stage,
    )

    df = spark.createDataFrame(
        [(i, f"u{i % 4}") for i in range(100)], "event_id long, uid string"
    )
    stage = _collector_processor_stage(
        "probabilistic_sampler",
        {"sampling_percentage": 50.0,
         "attribute_source": "record", "from_attribute": "uid"},
    )
    out = stage(df)
    # hashes the from_attribute column: all-or-nothing per uid value
    per_uid = out.groupBy("uid").count().collect()
    full = {r["uid"]: r["count"] for r in df.groupBy("uid").count().collect()}
    for r in per_uid:
        assert r["count"] == full[r["uid"]]


def test_set_parsed_null_existing_map_keeps_parse_result(spark):
    from opentelemetry_collector_contrib_spark.operators.base import set_parsed

    df = spark.createDataFrame(
        [(1, None), (2, {"old": "x"})],
        "id long, attributes map<string,string>",
    )
    parsed = F.when(F.col("id") >= 1, F.create_map(F.lit("k"), F.lit("v")))
    out = {r["id"]: r["attributes"] for r in set_parsed(df, parsed).collect()}
    assert out[1] == {"k": "v"}, "NULL existing map must not null the parse"
    assert out[2] == {"old": "x", "k": "v"}


def test_clickhouse_ts_exact_at_second_boundary(spark):
    from opentelemetry_collector_contrib_spark.functions.timefmt import clickhouse_ts

    df = spark.createDataFrame(
        [(1760104536_999_999_999,), (1760104537_000_000_000,)], "ns long"
    )
    got = [r["t"] for r in df.select(clickhouse_ts(F.col("ns")).alias("t")).collect()]
    assert got == [
        "2025-10-10 13:55:36.999999999",
        "2025-10-10 13:55:37.000000000",
    ]


def test_format_log_rows_null_time_falls_back_to_observed(spark):
    from opentelemetry_collector_contrib_spark.sinks import formatter

    df = spark.createDataFrame(
        [(None, 2_000_000_000)],
        "time_unix_nano long, observed_time_unix_nano long",
    )
    row = formatter.format_log_rows(df).first()
    assert row["Timestamp"] == "1970-01-01 00:00:02.000000000"


def test_to_json_messages_span_rows_and_flag_wrap(spark):
    from opentelemetry_collector_contrib_spark.sinks import formatter

    # dotted span columns must serialize (backticked refs), keeping dots
    df = spark.createDataFrame([(1,)], "i long").select(
        F.lit("t" * 32).alias("TraceId"),
        F.lit("x").alias("plain"),
        F.lit("y").alias("Events.Timestamp"),
    )
    msg = formatter.to_json_messages(df, partition_by="trace_id").first()
    assert '"Events.Timestamp":"y"' in msg["Value"]
    assert bytes(msg["Key"]) == b"t" * 32
    # TraceFlags wraps at uint8 like formatter.go
    lf = formatter.format_log_rows(
        spark.createDataFrame([(256,), (1,)], "flags int")
    ).collect()
    assert sorted(r["TraceFlags"] for r in lf) == [0, 1]


def test_build_vocab_ignores_blank_docs(spark):
    from opentelemetry_collector_contrib_spark.dataprep import tokenize

    docs1 = spark.createDataFrame([("ab ab",)], "text string")
    docs2 = spark.createDataFrame([("ab ab",), ("  ",)], "text string")
    m1 = tokenize.train_bpe(docs1, "text", num_merges=1)
    v1 = tokenize.build_vocab(docs1, "text", m1)
    v2 = tokenize.build_vocab(docs2, "text", m1)
    assert v1 == v2, "a blank doc must not shift every token id"
    assert "" not in v2


def test_sample_frames_null_doc_id(spark):
    from opentelemetry_collector_contrib_spark.dataprep import multimodal

    df = spark.createDataFrame(
        [(None, bytearray(b"x" * 64))],
        "doc_id long, payload binary",
    ).withColumn("media_type", F.lit("video/raw")).withColumn(
        "meta", F.create_map().cast("map<string,string>")
    )
    rows = multimodal.sample_frames(df, frame_bytes=32, every_n=1).collect()
    assert len(rows) == 2 and all(r["doc_id"] is None for r in rows)


def test_datagen_fields_not_correlated_with_format(spark):
    from opentelemetry_collector_contrib_spark import datagen

    logs = datagen.raw_logs(spark, 2000).filter(F.col("fmt") == 0)
    statuses = {
        r["s"]
        for r in logs.select(
            F.regexp_extract("body", r'" (\d+) \d+$', 1).alias("s")
        ).collect()
    }
    # apache-format lines must carry the full status mix, not constant 200
    assert {"200", "404", "429", "500"} <= statuses


# ---------------------------------------------------------------------------
# round-5: ANSI-mode robustness — one malformed record must fail THAT
# record (reference per-entry error posture), never abort the Spark job
# with CAST_INVALID_INPUT / MAP_KEY_DOES_NOT_EXIST
# ---------------------------------------------------------------------------


def test_journald_bad_priority_and_overrange_ts_do_not_abort(spark):
    rows = [
        # non-numeric PRIORITY: entry parses, severity NULL (strconv err)
        {"body": '{"__REALTIME_TIMESTAMP":"1699999999999999","__CURSOR":"c1",'
                 '"MESSAGE":"m","PRIORITY":"high"}'},
        # out-of-table PRIORITY "9": NULL severity, no map-key abort
        {"body": '{"__REALTIME_TIMESTAMP":"1699999999999999","__CURSOR":"c2",'
                 '"MESSAGE":"m","PRIORITY":"9"}'},
        # digits-only timestamp above long range: parse FAILURE for the
        # entry (rlike passes, try_cast does not)
        {"body": '{"__REALTIME_TIMESTAMP":"99999999999999999999999",'
                 '"__CURSOR":"c3","MESSAGE":"m","PRIORITY":"3"}'},
        {"body": '{"__REALTIME_TIMESTAMP":"1699999999999999","__CURSOR":"c4",'
                 '"MESSAGE":"ok","PRIORITY":"3"}'},
    ]
    out = {r["cursor"]: r for r in parsers.journald_parser(
        spark.createDataFrame(rows)).collect()}
    assert out["c1"]["severity_number"] is None and out["c1"]["attributes"] is not None
    assert out["c2"]["severity_number"] is None
    assert out["c4"]["severity_number"] == 17  # PRIORITY 3 = err -> OTel 17
    # the c3 row survives with NULL attributes (send) — cursor comes from
    # the parsed map, so fetch it by scanning for NULL-attribute rows
    nulls = [r for r in parsers.journald_parser(
        spark.createDataFrame(rows)).collect() if r["attributes"] is None]
    assert len(nulls) == 1 and nulls[0]["ts"] is None


def test_syslog_huge_priority_does_not_abort(spark):
    df = spark.createDataFrame(
        [("<99999999999999999999>Oct 11 22:14:15 host app: msg",),
         ("<13>Oct 11 22:14:15 host app: msg",)], "body string")
    out = parsers.syslog_parser(df, "rfc3164").collect()
    sevs = sorted([r["severity_number"] for r in out], key=lambda x: (x is None, x))
    assert sevs[0] == 10 and sevs[1] is None  # 13&7=5 -> notice(10); huge -> NULL


def test_severity_from_attrs_overrange_status_does_not_abort(spark):
    from opentelemetry_collector_contrib_spark.plans.pipeline import _severity_from_attrs

    df = spark.createDataFrame([("x",)], "body string").withColumn(
        "attributes", F.create_map(F.lit("status"), F.lit("99999999999"))
    )
    r = _severity_from_attrs(df).first()
    assert r["severity_number"] == 9  # falls back to info, job alive


def test_attributes_convert_keeps_original_on_failure(spark):
    from opentelemetry_collector_contrib_spark.operators.processors import (
        AttrAction,
        attributes_processor,
    )

    df = spark.createDataFrame([("x",)], "body string").withColumn(
        "attributes",
        F.create_map(F.lit("n"), F.lit("12"), F.lit("bad"), F.lit("not-a-number")),
    )
    out = attributes_processor(
        df,
        [AttrAction(action="convert", key="n", converted_type="int"),
         AttrAction(action="convert", key="bad", converted_type="int")],
    ).first()["attributes"]
    # reference type_converter.go:40-45: parse failure leaves the value
    assert out["n"] == "12" and out["bad"] == "not-a-number"


def test_ip_to_long_rejects_non_quads_without_abort(spark):
    from opentelemetry_collector_contrib_spark.operators.enrich import ip_to_long

    df = spark.createDataFrame(
        [("10.0.0.1",), ("not.an.ip",), ("1.2.3",), (None,)], "ip string")
    got = {r["ip"]: r["v"] for r in df.select("ip", ip_to_long(F.col("ip")).alias("v")).collect()}
    assert got["10.0.0.1"] == 10 * 16777216 + 1
    assert got["not.an.ip"] is None and got["1.2.3"] is None and got[None] is None


def test_time_parser_malformed_inputs_do_not_abort(spark):
    """strptime layout mismatch, non-numeric epoch, and an epoch mapping
    outside year 1..9999 each NULL that entry's ts (stanza on_error
    posture) instead of raising CANNOT_PARSE_TIMESTAMP / year-out-of-
    range and killing the job."""
    from opentelemetry_collector_contrib_spark.functions.timefmt import (
        parse_epoch,
        parse_strptime,
    )

    df = spark.createDataFrame(
        [("2025-10-10 13:55:36",), ("not a date",), (None,)], "t string")
    got = [r["ts"] for r in df.select(parse_strptime(F.col("t"), "%Y-%m-%d %H:%M:%S").alias("ts")).collect()]
    assert got[0] is not None and got[1] is None and got[2] is None

    df2 = spark.createDataFrame(
        [("1699999999",), ("abc",), ("1e30",), (None,)], "t string")
    got2 = [r["ts"] for r in df2.select(parse_epoch(F.col("t"), "s").alias("ts")).collect()]
    assert got2[0] is not None and got2[1] is None and got2[2] is None and got2[3] is None


def test_trace_flags_and_sampler_priority_malformed_do_not_abort(spark):
    from opentelemetry_collector_contrib_spark.operators.parsers import trace_parser

    df = spark.createDataFrame([("zz",), ("1",)], "f string")
    got = {r["f"]: r["flags"] for r in trace_parser(df, flags_from="f").collect()}
    assert got["zz"] is None and got["1"] == 1

    from opentelemetry_collector_contrib_spark.operators.processors import (
        probabilistic_sampler,
    )

    df2 = spark.createDataFrame(
        [(1, "high"), (2, "2"), (3, None)], "event_id long, prio string")
    # non-numeric priority = no override (logsprocessor.go parse-fail
    # posture); the call must not abort on 'high'
    out = probabilistic_sampler(
        df2, 50.0, key_col="event_id", mode="equalizing", priority_col="prio"
    )
    out.count()  # executing the plan is the assertion


def test_parse_int_overflow_magnitude_is_null_not_abort(spark):
    from opentelemetry_collector_contrib_spark.functions.ottl import parse_int

    df = spark.createDataFrame(
        [("99999999999999999999",), ("42",), ("-7",), ("0x10",)], "s string")
    base10 = [r[0] for r in df.select(parse_int(F.col("s"))).collect()]
    assert base10 == [None, 42, -7, None]  # overflow + hex-in-base-10 -> NULL
    base0 = [r[0] for r in df.select(parse_int(F.col("s"), 0)).collect()]
    assert base0[0] is None and base0[3] == 16


def test_unknown_parse_impl_raises(spark):
    """A removed engine name fails at plan time, never runs another one."""
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.functions.grok import grok_extract
    from opentelemetry_collector_contrib_spark.plans.pipeline import parse_records

    removed = "pandas"
    with _pytest.raises(ValueError, match="parse impl"):
        parse_records(spark.createDataFrame([("k=v",)], "body string"), impl=removed)
    with _pytest.raises(ValueError, match="grok impl"):
        grok_extract(F.col("body"), "%{WORD:w}", impl=removed)


def test_csv_parser_quoted_fields_go_semantics(spark):
    """RFC-4180 quoting with encoding/csv's strict posture (the stanza
    csv parser's engine): quoted delimiters kept, '""' unescapes, stray
    or unterminated quotes are a per-entry parse FAILURE (NULL map),
    quote-free lines ride the plain-split fast path unchanged."""
    rows = [
        ("a,b,c", {"f1": "a", "f2": "b", "f3": "c"}),
        ('"a,x",b,c', {"f1": "a,x", "f2": "b", "f3": "c"}),
        ('"he said ""hi""",2,3', {"f1": 'he said "hi"', "f2": "2", "f3": "3"}),
        ('a"b,c,d', None),          # bare quote in unquoted field -> Go error
        ('"unterminated,b,c', None),
        ('"",2,3', {"f1": "", "f2": "2", "f3": "3"}),
        ("x,y", None),  # short row: wrong number of fields
        # quoted lines whose first field is empty (a zero-width match at
        # the start used to swallow the next field)
        (',"a",', {"f1": "", "f2": "a", "f3": ""}),
        (',x,"y"', {"f1": "", "f2": "x", "f3": "y"}),
    ]
    df = spark.createDataFrame([(b,) for b, _ in rows], "body string")
    out = {r["body"]: r["attributes"] for r in parsers.csv_parser(df, ["f1", "f2", "f3"]).collect()}
    for body, want in rows:
        got = dict(out[body]) if out[body] is not None else None
        assert got == want, body


def test_severity_parser_http_range_aliases(spark):
    """severity_builder.go's special mapping values: '4xx' expands to
    the literal strings 400..499 (HTTP2xx..HTTP5xx consts) and a
    (min, max) tuple is the {min:, max:} range form — both expand at
    plan time into the literal-map probe."""
    df = spark.createDataFrame(
        [("404",), ("499",), ("500",), ("200",), ("7",), ("399",)], "code string")
    out = parsers.severity_parser(
        df, "code", mapping={"4xx": 13, "5xx": 17, (200, 204): 9, "7": 5}
    )
    got = {r["code"]: r["severity_number"] for r in out.collect()}
    assert got == {"404": 13, "499": 13, "500": 17, "200": 9, "7": 5, "399": 0}


def test_time_parser_location_parse_in_location(spark):
    """time.go's `location`: a zone-less layout's wall clock is read in
    the given IANA zone (Go ParseInLocation) — DST-aware — an epoch is not
    shifted, and a bogus zone fails at PLAN time like a config error."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [("2025-01-15 12:00:00",), ("2025-07-15 12:00:00",)], "t string")
    out = parsers.time_parser(
        df, "t", "%Y-%m-%d %H:%M:%S", location="America/New_York")
    got = {r["t"]: r["timestamp"].hour for r in out.collect()}
    # session tz is UTC: EST noon -> 17 UTC, EDT noon -> 16 UTC
    assert got == {"2025-01-15 12:00:00": 17, "2025-07-15 12:00:00": 16}
    with _pytest.raises(ValueError, match="failed to load location"):
        parsers.time_parser(df, "t", "%Y-%m-%d %H:%M:%S", location="Not/AZone")
    ep = spark.createDataFrame([("1736942400",)], "t string")  # 12:00 UTC
    out = parsers.time_parser(ep, "t", "s", layout_type="epoch", location="America/New_York")
    assert out.first()["timestamp"].hour == 12
    with _pytest.raises(ValueError, match="failed to load location"):
        parsers.time_parser(ep, "t", "s", layout_type="epoch", location="Not/AZone")


def test_severity_parser_presets(spark):
    """severity_builder.go presets: 'none' = user mapping only, 'otel' =
    the 24 level names + stringified numbers, 'default' as before."""
    df = spark.createDataFrame([("error",), ("17",), ("warning",)], "s string")
    default = {r["s"]: r["severity_number"] for r in parsers.severity_parser(df, "s").collect()}
    assert default["error"] == 17 and default["warning"] == 13 and default["17"] == 0
    otel = {r["s"]: r["severity_number"] for r in parsers.severity_parser(
        df, "s", preset="otel").collect()}
    assert otel["error"] == 17 and otel["17"] == 17 and otel["warning"] == 0
    none = {r["s"]: r["severity_number"] for r in parsers.severity_parser(
        df, "s", preset="none", mapping={"error": 21}).collect()}
    assert none["error"] == 21 and none["17"] == 0 and none["warning"] == 0


def test_parse_key_value_reference_vectors(spark):
    """func_parse_key_value_test.go vectors (the parseutils engine,
    parser.go:17-81): quote-aware pair splitting, other-kind quotes kept
    inside a span, whitespace-trimmed keys/values, multi-char and
    custom delimiters, and the reference's error cases as NULLs."""
    from opentelemetry_collector_contrib_spark.functions import ottl

    def run(s, delim="=", pd=" "):
        df = spark.createDataFrame([(s,)], "s string")
        r = df.select(ottl.parse_key_value(F.col("s"), delim, pd).alias("m")).first()["m"]
        return dict(r) if r is not None else None

    # double / single quoted values, embedded other-kind quotes
    assert run('a=b c=\'this is a "co ol" value\'') == {
        "a": "b", "c": 'this is a "co ol" value'}
    assert run('requestClientApplication="Mozilla/5.0 (Windows NT 6.1; WOW64; rv:40.0) Gecko/20100101 Firefox/40.0"') == {
        "requestClientApplication": "Mozilla/5.0 (Windows NT 6.1; WOW64; rv:40.0) Gecko/20100101 Firefox/40.0"}
    # quotes strip leading & trailing spaces of the value
    assert run('name="   ottl " func="  key_ value"') == {
        "name": "ottl", "func": "key_ value"}
    # '!' delimiter, whitespace runs, leading/trailing delimiters
    assert run("   name!ottl     func!key_value hello!world  ", delim="!") == {
        "name": "ottl", "func": "key_value", "hello": "world"}
    # multi-char '!!' delimiter with newlines inside tokens (trimmed)
    assert run("   \nname!!ottl     \nfunc!!key_value                      hello!!world  ",
               delim="!!") == {"name": "ottl", "func": "key_value", "hello": "world"}
    # quoted value contains both delimiters; '_' pair delimiter
    assert run('name="ottl="_func="=key_value"', pd="_") == {
        "name": "ottl=", "func": "=key_value"}
    # multi-char pair delimiter + '@*' kv delimiter
    assert run("k1@*v1_!_k2@**v2_!__k3@@*v3__", delim="@*", pd="_!_") == {
        "k1": "v1", "k2": "*v2", "_k3@": "v3__"}
    # second '=' goes into the value (SplitN 2)
    assert run("   k1=v1   k2==v2       k3=v3= ") == {
        "k1": "v1", "k2": "=v2", "k3": "v3="}
    # reference error cases -> NULL
    assert run("") is None                      # empty input
    assert run("k1=v1 k2='v2\"") is None        # unterminated quote
    assert run("a=b orphan c=d") is None        # pair without delimiter


def test_uri_parser_query_params_user_and_error_posture(spark):
    """parseutils/uri.go urlToMap: user + query params (url.Values)
    flattened to decoded 'query.<param>' keys, repeated params
    comma-joined; an unparsable URI is a per-entry NULL — and a bad
    %-escape must NOT abort the job (ANSI parse_url would; try_parse_url
    NULLs that entry — documented whole-URI divergence from Go's
    query-pair salvage)."""
    df = spark.createDataFrame(
        [("https://bob:pw@example.com:8080/api?x=1&y=a%20b+c&x=3",),
         ("not a url at all",),
         ("http://h/p?bad=%zz",)],
        "body string")
    out = {r["body"][:10]: r["attributes"] for r in parsers.uri_parser(df).collect()}
    good = dict(out["https://bo"])
    assert good["user"] == "bob" and good["query.x"] == "1,3"
    assert good["query.y"] == "a b c" and good["port"] == "8080"
    assert out["not a url "] is None and out["http://h/p"] is None
