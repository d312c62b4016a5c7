"""coralogixprocessor transactions — vectors mirroring the reference's
span_tree_test.go / trasactions_test.go cases plus distributed-shape
checks (deep chains through pointer doubling, parent cycles, multiple
traces in one DataFrame)."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.coralogix import (
    coralogix_transactions,
)

SCHEMA = (
    "trace_id string, span_id string, parent_span_id string, "
    "span_name string, span_kind string, start_ts long"
)


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    out = coralogix_transactions(df, **kw)
    return {
        r["span_id"]: (r["cgx_transaction"], r["cgx_transaction_root"])
        for r in out.collect()
    }


def test_single_span_is_its_own_transaction(spark):
    got = _run(spark, [("t1", "a", None, "root-op", "internal", 100)])
    assert got == {"a": ("root-op", True)}


def test_parent_child_inherits_root_name(spark):
    got = _run(
        spark,
        [
            ("t1", "a", None, "root-op", "internal", 100),
            ("t1", "b", "a", "child-op", "internal", 200),
        ],
    )
    assert got["a"] == ("root-op", True)
    assert got["b"] == ("root-op", None)


def test_multiple_roots_earliest_wins_loser_untouched(spark):
    # span_tree_test.go TestBuildSpanTreeMultipleRoots: root2 starts at 50
    # and wins; root1 (and any subtree under it) is never visited
    got = _run(
        spark,
        [
            ("t1", "r1", None, "op1", "internal", 100),
            ("t1", "r2", None, "op2", "internal", 50),
            ("t1", "c1", "r1", "under-loser", "internal", 150),
        ],
    )
    assert got["r2"] == ("op2", True)
    assert got["r1"] == (None, None)
    assert got["c1"] == (None, None)


def test_no_parentless_span_earliest_becomes_root(spark):
    # TestBuildSpanTreeNoRoot: both spans point at a missing parent; the
    # earliest becomes root, the other stays unreachable
    got = _run(
        spark,
        [
            ("t1", "s1", "missing", "op1", "internal", 100),
            ("t1", "s2", "missing", "op2", "internal", 50),
        ],
    )
    assert got["s2"] == ("op2", True)
    assert got["s1"] == (None, None)


def test_server_span_starts_new_transaction(spark):
    got = _run(
        spark,
        [
            ("t1", "a", None, "front", "server", 100),
            ("t1", "b", "a", "call-svc", "client", 110),
            ("t1", "c", "b", "handle", "SPAN_KIND_SERVER", 120),
            ("t1", "d", "c", "db-write", "internal", 130),
        ],
    )
    assert got["a"] == ("front", True)
    assert got["b"] == ("front", None)  # client does not break the transaction
    assert got["c"] == ("handle", True)
    assert got["d"] == ("handle", None)


def test_premarked_span_keeps_attributes_but_starts_transaction(spark):
    schema = SCHEMA + ", pre boolean, pre_txn string"
    df = spark.createDataFrame(
        [
            ("t1", "a", None, "root-op", "internal", 100, None, None),
            ("t1", "p", "a", "premarked-op", "internal", 110, True, "old-txn"),
            ("t1", "d", "p", "leaf", "internal", 120, None, None),
        ],
        schema,
    )
    out = coralogix_transactions(df, premarked_col="pre", pre_txn_col="pre_txn")
    got = {
        r["span_id"]: (r["cgx_transaction"], r["cgx_transaction_root"])
        for r in out.collect()
    }
    # the premarked span's own attributes are NOT rewritten (first branch
    # of applyTransactionToTrace) — but its descendants inherit its NAME
    assert got["a"] == ("root-op", True)
    assert got["p"] == ("old-txn", True)
    assert got["d"] == ("premarked-op", None)


def test_deep_chain_resolves_via_pointer_doubling(spark):
    n = 40  # > 2^5: forces several doubling rounds
    rows = [("t1", "s0", None, "root", "internal", 0)]
    rows += [
        ("t1", f"s{i}", f"s{i-1}", f"op{i}", "internal", i) for i in range(1, n)
    ]
    got = _run(spark, rows)
    assert got["s0"] == ("root", True)
    for i in range(1, n):
        assert got[f"s{i}"] == ("root", None)


def test_parent_cycle_is_unreachable_and_untouched(spark):
    got = _run(
        spark,
        [
            ("t1", "r", None, "root", "internal", 0),
            ("t1", "x", "y", "cyc-x", "internal", 10),
            ("t1", "y", "x", "cyc-y", "internal", 20),
        ],
        max_rounds=6,
    )
    assert got["r"] == ("root", True)
    assert got["x"] == (None, None)
    assert got["y"] == (None, None)


def test_traces_are_independent(spark):
    got = _run(
        spark,
        [
            ("t1", "a", None, "t1-root", "internal", 100),
            ("t1", "b", "a", "t1-child", "internal", 110),
            ("t2", "a", None, "t2-root", "internal", 100),
            ("t2", "b", "a", "t2-child", "server", 110),
        ],
    )
    # same span ids in different traces must not cross-talk — collect
    # keyed by (trace, span) instead
    df = spark.createDataFrame(
        [
            ("t1", "a", None, "t1-root", "internal", 100),
            ("t1", "b", "a", "t1-child", "internal", 110),
            ("t2", "a", None, "t2-root", "internal", 100),
            ("t2", "b", "a", "t2-child", "server", 110),
        ],
        SCHEMA,
    )
    out = coralogix_transactions(df)
    got = {
        (r["trace_id"], r["span_id"]): (r["cgx_transaction"], r["cgx_transaction_root"])
        for r in out.collect()
    }
    assert got[("t1", "b")] == ("t1-root", None)
    assert got[("t2", "b")] == ("t2-child", True)


def test_duplicate_span_ids_do_not_fan_out(spark):
    """Duplicate (trace_id, span_id) rows — retried exports, bad
    instrumentation — must collapse to one state row (reference spanMap is
    last-write-wins): every input row annotated once, no join fan-out."""
    rows = [
        ("t1", "a", None, "root-op", "internal", 100),
        ("t1", "b", "a", "child-1", "internal", 200),
        ("t1", "b", "a", "child-retry", "internal", 300),  # dup span_id
        ("t1", "c", "b", "grandchild", "internal", 400),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = coralogix_transactions(df).collect()
    assert len(out) == len(rows)  # one output row per input row
    by_name = {r["span_name"]: r for r in out}
    # everyone reaches the root through the (deduped) chain
    for nm in ("root-op", "child-1", "child-retry", "grandchild"):
        assert by_name[nm]["cgx_transaction"] == "root-op", nm


def test_deep_chain_plan_stays_flat_and_leaves_nothing_cached(spark):
    """A linear chain with a server span halfway down: every pointer-
    doubling round joins the state to itself, so without truncating the
    lineage each round doubles the plan (a 128-span chain then takes
    minutes). The 64-span plan must stay close to the 8-span
    one, and the result must leave nothing in the CacheManager."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    empty_before = cache_manager.isEmpty()
    plan_chars = {}
    for depth in (8, 64):
        mid = depth // 2
        rows = [
            (
                "t1",
                f"s{i}",
                f"s{i - 1}" if i else None,
                f"op{i}",
                "server" if i == mid else "internal",
                100 + i,
            )
            for i in range(depth)
        ]
        out = coralogix_transactions(spark.createDataFrame(rows, SCHEMA))
        plan_chars[depth] = len(out._jdf.queryExecution().analyzed().toString())
        got = {
            r["span_id"]: (r["cgx_transaction"], r["cgx_transaction_root"])
            for r in out.collect()
        }
        want = {
            f"s{i}": (
                "op0" if i < mid else f"op{mid}",
                True if i in (0, mid) else None,
            )
            for i in range(depth)
        }
        assert got == want, depth
    assert plan_chars[64] < 1.5 * plan_chars[8], plan_chars
    assert cache_manager.isEmpty() == empty_before
