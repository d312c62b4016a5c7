"""coralogixprocessor — per-trace transaction attribution (batch analog).

The reference builds an in-memory span tree per trace and walks it from an
elected root, stamping `cgx.transaction` (the active transaction name) on
every visited span; a NEW transaction starts at spans already carrying
`cgx.transaction.root`, and at SERVER / CONSUMER spans (which also get the
root marker themselves). Spans NOT reachable from the elected root — spare
roots that lost the election and their subtrees, orphaned chains — are
left completely untouched.

Reference semantics:
  processor/coralogixprocessor/internal/transactions/trasactions.go:15-70
  (ApplyTransactionsAttributes / applyTransactionToTrace / markSpanAsRoot),
  span_tree.go:16-77 (root election: earliest parentless span; earliest
  span overall when no parentless span exists).

Spark-first: no per-trace tree ever materializes anywhere — the tree walk
is re-expressed as a nearest-boundary-ancestor search over slim
(trace_id, span_id, ptr, first_boundary_name) tuples with pointer
doubling: O(log max_depth) self-joins, each shuffling only ids plus one
name, so a 10^12-span table never moves its payload columns. The elected
root is one window over the same slim projection.

Determinism note: the reference breaks root-election ties by arrival
order (it keeps the first-seen parentless span unless a later one starts
strictly earlier); arrival order does not exist in a DataFrame, so ties
on start timestamp break by span_id — deterministic under repartition
and resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TRANSACTION_ATTR = "cgx_transaction"
TRANSACTION_ROOT_ATTR = "cgx_transaction_root"

# ptr-state status codes
_PENDING, _ROOT, _DEAD = 0, 1, 2


def _norm_kind(kind):
    # accept 'server', 'Server', 'SPAN_KIND_SERVER', and the OTLP enum
    # integers (2=SERVER, 5=CONSUMER — a common wire encoding; without
    # this mapping numeric kinds would silently disable kind boundaries)
    s = F.regexp_replace(F.lower(F.coalesce(kind.cast("string"), F.lit(""))),
                         "^span_kind_", "")
    return (
        F.when(s == "2", F.lit("server"))
        .when(s == "5", F.lit("consumer"))
        .otherwise(s)
    )


def coralogix_transactions(
    df: DataFrame,
    *,
    trace_col: str = "trace_id",
    span_col: str = "span_id",
    parent_col: str = "parent_span_id",
    name_col: str = "span_name",
    kind_col: str = "span_kind",
    start_col: str = "start_ts",
    premarked_col: str | None = None,
    pre_txn_col: str | None = None,
    max_rounds: int = 20,
) -> DataFrame:
    """Append `cgx_transaction` / `cgx_transaction_root` columns.

    premarked_col: optional boolean column = the span already carries the
    `cgx.transaction.root` attribute on input (such spans start a new
    transaction for their subtree but their own attributes are not
    modified — exactly the reference's first branch).
    pre_txn_col: optional column with the span's pre-existing
    `cgx.transaction` value, passed through wherever the walk does not
    write one.

    max_rounds bounds the pointer-doubling loop at depth 2^max_rounds;
    spans still unresolved after that can only sit on a parent cycle,
    which is unreachable from any root by construction and therefore
    correctly left untouched.
    """
    pre_root = (
        F.col(premarked_col).cast("boolean") if premarked_col else F.lit(None).cast("boolean")
    )
    pre_txn = (
        F.col(pre_txn_col).cast("string") if pre_txn_col else F.lit(None).cast("string")
    )

    slim = df.select(
        F.col(trace_col).alias("t"),
        F.col(span_col).alias("s"),
        F.col(parent_col).alias("p"),
        F.col(name_col).cast("string").alias("nm"),
        _norm_kind(F.col(kind_col)).alias("knd"),
        F.col(start_col).alias("st"),
        F.coalesce(pre_root, F.lit(False)).alias("pre"),
    )
    # duplicate span_ids within a trace (retried exports, bad
    # instrumentation) must collapse to ONE state row, or the final
    # stitch join fans out one output row per duplicate; the reference's
    # spanMap is last-write-wins (processor.go builds map[spanID]), so
    # keep the latest-starting duplicate, deterministic tie-break
    dedup_rn = F.row_number().over(
        Window.partitionBy("t", "s").orderBy(
            F.col("st").desc(), F.col("nm").asc(), F.col("p").asc()
        )
    )
    slim = slim.withColumn("__dup_rn", dedup_rn).filter(F.col("__dup_rn") == 1).drop(
        "__dup_rn"
    )

    # --- root election: earliest parentless span, else earliest span ---
    # parentless includes the all-zeros parent span id (the OTLP wire
    # convention for roots) — same predicate as ottl.is_root_span and
    # the reference's ParentSpanID().IsEmpty()
    from ..functions.ottl import is_root_span

    parentless = is_root_span(F.col("p"))
    rn = F.row_number().over(
        Window.partitionBy("t").orderBy(
            parentless.desc(), F.col("st").asc(), F.col("s").asc()
        )
    )
    spans = slim.withColumn("is_root", rn == 1)
    # a boundary starts a new transaction for its children
    spans = spans.withColumn(
        "bnd", F.col("is_root") | F.col("pre") | F.col("knd").isin("server", "consumer")
    ).localCheckpoint()

    # --- initial ptr state: one hop to the parent ---------------------
    # segment covered by a state row = the nodes strictly above s up to
    # and including ptr; fb = name of the first boundary in that segment
    par = spans.select(
        F.col("t").alias("pt"),
        F.col("s").alias("ps"),
        F.col("nm").alias("pnm"),
        F.col("bnd").alias("pbnd"),
        F.col("is_root").alias("proot"),
    )
    st0 = (
        spans.filter(~F.col("is_root"))
        .join(par, (F.col("t") == F.col("pt")) & (F.col("p") == F.col("ps")), "left")
        .select(
            "t",
            "s",
            F.col("ps").alias("ptr"),
            F.when(F.col("pbnd"), F.col("pnm")).alias("fb"),
            F.when(F.col("ps").isNull(), F.lit(_DEAD))
            .when(F.col("proot"), F.lit(_ROOT))
            .otherwise(F.lit(_PENDING))
            .alias("stat"),
        )
        .localCheckpoint()
    )

    # --- pointer doubling ---------------------------------------------
    # each round joins `state` to itself, so each round is checkpointed:
    # the plan stays one leaf instead of doubling every round
    state = st0
    pending = state.filter(F.col("stat") == _PENDING).count()
    for _ in range(max_rounds):
        if pending == 0:
            break
        nxt = state.select(
            F.col("t").alias("bt"),
            F.col("s").alias("bs"),
            F.col("ptr").alias("bptr"),
            F.col("fb").alias("bfb"),
            F.col("stat").alias("bstat"),
        )
        new_state = (
            state.join(
                nxt,
                (F.col("t") == F.col("bt")) & (F.col("ptr") == F.col("bs")),
                "left",
            )
            .select(
                "t",
                "s",
                F.when(F.col("stat") != _PENDING, F.col("ptr"))
                .otherwise(F.col("bptr"))
                .alias("ptr"),
                F.when(F.col("stat") != _PENDING, F.col("fb"))
                .otherwise(F.coalesce(F.col("fb"), F.col("bfb")))
                .alias("fb"),
                F.when(F.col("stat") != _PENDING, F.col("stat"))
                # ptr always names an existing non-root span for pending
                # rows, so the self-join match cannot be NULL here
                .otherwise(F.col("bstat"))
                .alias("stat"),
            )
            .localCheckpoint()
        )
        pending = new_state.filter(F.col("stat") == _PENDING).count()
        state = new_state
    # rows still _PENDING after max_rounds sit on a parent cycle ->
    # unreachable, same treatment as _DEAD (untouched)

    # --- stitch results back onto the input ----------------------------
    res = spans.join(
        state.select("t", "s", "fb", "stat"), ["t", "s"], "left"
    ).select(
        F.col("t").alias("__ct"),
        F.col("s").alias("__cs"),
        F.col("is_root").alias("__croot"),
        F.col("pre").alias("__cpre"),
        F.col("knd").alias("__cknd"),
        F.col("nm").alias("__cnm"),
        F.col("fb").alias("__cfb"),
        F.col("stat").alias("__cstat"),
    )
    reach = F.col("__croot") | (F.col("__cstat") == _ROOT)
    kind_boundary = F.col("__cknd").isin("server", "consumer") & ~F.col("__cpre")

    txn = (
        F.when(F.col("__croot"), F.col("__cnm"))
        .when(reach & F.col("__cpre"), pre_txn)
        .when(reach & kind_boundary, F.col("__cnm"))
        .when(reach, F.col("__cfb"))
        .otherwise(pre_txn)
    )
    is_root_out = (
        F.when(F.col("__croot") | (reach & kind_boundary), F.lit(True))
        .otherwise(pre_root)
    )

    return (
        df.join(
            res,
            (F.col(trace_col) == F.col("__ct")) & (F.col(span_col) == F.col("__cs")),
            "left",
        )
        .withColumn(TRANSACTION_ATTR, txn)
        .withColumn(TRANSACTION_ROOT_ATTR, is_root_out)
        .drop("__ct", "__cs", "__croot", "__cpre", "__cknd", "__cnm", "__cfb", "__cstat")
    )
