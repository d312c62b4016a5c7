"""Isolation-forest anomaly scoring processor.

Spark-first re-expression of the reference's isolationforestprocessor
(/root/reference/processor/isolationforestprocessor/isolation_forest.go,
processor.go): per-record anomaly score + is_anomaly flag over numeric
feature columns. The reference runs an ONLINE forest (sliding window,
adaptive threshold) inside the collector process; the batch-native
equivalent is the classic iForest (Liu et al. 2008, public algorithm):

1. FIT on a deterministic bounded sample (hash-ordered, so resumable runs
   fit the same forest — never rand() over the data),
2. broadcast the fitted trees (a few KB of Python tuples) to executors,
3. SCORE every row in an Arrow-batched pandas UDF (numpy per batch),
4. the adaptive threshold becomes a score quantile over the batch — the
   batch analog of the reference's rolling `scoreHistory` percentile.

For streaming, run the same scorer inside foreachBatch and persist the
fitted forest + threshold like the deltatocumulative state table
(streaming/stream.py) — fit once, score forever, refit on drift.

Scale shape: the fit touches <= num_trees * sample_size rows collected
from a hash-ordered LIMIT (bounded driver memory, one pass); scoring is
embarrassingly parallel with zero shuffles.
"""

from __future__ import annotations

import math
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# tree nodes are plain tuples so the broadcast closure pickles small:
# internal: (feature_index, split_value, left, right); leaf: (None, size)


def _build_tree(X, rng: random.Random, depth: int, max_depth: int):
    n = len(X)
    if depth >= max_depth or n <= 1:
        return (None, n)
    dims = len(X[0])
    # pick a feature with spread; give up after a few tries (constant data)
    for _ in range(4):
        f = rng.randrange(dims)
        lo = min(x[f] for x in X)
        hi = max(x[f] for x in X)
        if hi > lo:
            break
    else:
        return (None, n)
    split = lo + rng.random() * (hi - lo)
    left = [x for x in X if x[f] < split]
    right = [x for x in X if x[f] >= split]
    if not left or not right:
        return (None, n)
    return (
        f,
        split,
        _build_tree(left, rng, depth + 1, max_depth),
        _build_tree(right, rng, depth + 1, max_depth),
    )


def _path_length(tree, x, depth: int = 0) -> float:
    if tree[0] is None:
        # unresolved leaf of size n adds the average path length c(n)
        return depth + _c(tree[1])
    f, split, left, right = tree
    return _path_length(left if x[f] < split else right, x, depth + 1)


def _c(n: int) -> float:
    """Average path length of an unsuccessful BST search among n points
    (the iForest normalizer)."""
    if n <= 1:
        return 0.0
    h = math.log(n - 1) + 0.5772156649015329  # harmonic approx
    return 2.0 * h - 2.0 * (n - 1) / n


class IsolationForest:
    """Fitted forest: `trees` is a list of nested tuples, `sample_size`
    the per-tree sample count (sets the score normalizer)."""

    def __init__(self, trees, sample_size: int):
        self.trees = trees
        self.sample_size = sample_size

    def score_one(self, x) -> float:
        depths = [_path_length(t, x) for t in self.trees]
        mean_depth = sum(depths) / len(depths)
        return 2.0 ** (-mean_depth / _c(self.sample_size))


def fit_isolation_forest(
    df: DataFrame,
    feature_cols: list[str],
    *,
    num_trees: int = 64,
    sample_size: int = 256,
    seed: int = 7,
) -> IsolationForest:
    """Fit on a DETERMINISTIC sample: rows ordered by xxhash64 of the
    feature tuple, first num_trees*sample_size taken — the same rows
    regardless of partitioning, so a resumed/repartitioned pipeline
    refits the identical forest (same discipline as ivf_fit_centroids /
    hash_split)."""
    need = num_trees * sample_size
    cols = [F.col(c).cast("double") for c in feature_cols]
    sampled = (
        df.select(*[c.alias(f"f{i}") for i, c in enumerate(cols)])
        .na.drop()
        .withColumn("__h", F.xxhash64(*[F.col(f"f{i}") for i in range(len(cols))]))
        .orderBy("__h")
        .limit(need)
        .drop("__h")
        .collect()
    )
    rows = [tuple(r) for r in sampled]
    if not rows:
        raise ValueError("isolation forest needs at least one complete row")
    rng = random.Random(seed)
    max_depth = max(1, math.ceil(math.log2(max(2, min(sample_size, len(rows))))))
    trees = []
    for _ in range(num_trees):
        if len(rows) > sample_size:
            sample = rng.sample(rows, sample_size)
        else:
            sample = rows
        trees.append(_build_tree(sample, rng, 0, max_depth))
    return IsolationForest(trees, min(sample_size, len(rows)))


def isolation_forest_scores(
    forest: IsolationForest, *feature_cols: Column
) -> Column:
    """Anomaly score column in (0, 1): ~0.5 for average points, -> 1 for
    isolates. Arrow-batched pandas UDF over the broadcast tree tuples."""
    trees = forest.trees
    sample_size = forest.sample_size

    @pandas_udf("double")
    def _score(batches: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        f = IsolationForest(trees, sample_size)
        for series in batches:
            cols = [s.astype("float64") for s in series]
            out = [
                f.score_one(x) if all(v == v for v in x) else None
                for x in zip(*[s.tolist() for s in cols])
            ]
            yield pd.Series(out, dtype="float64")

    return _score(*[c.cast("double") for c in feature_cols])


def forest_depth_column(forest: IsolationForest, cols: list[Column]) -> Column:
    """Compile the fitted trees into one nested CASE ladder: the SUM of
    per-tree path depths as a pure Column expression — zero Python on the
    scoring path (whole-stage codegen), the right engine-side form for
    small frozen forests shipped with a job config. Depth arithmetic is
    sums of literals in a fixed order, so the result is bit-identical to
    any other engine evaluating the same ladder (see forest_depth_sql).

    NULL features fall through every `< split` comparison to the right
    child on BOTH engines (SQL CASE semantics), so the ladder itself is
    total; callers gate NULLs explicitly (score column below)."""
    def walk(tree, depth: int) -> Column:
        if tree[0] is None:
            return F.lit(float(depth + _c(tree[1])))
        f, split, left, right = tree
        return F.when(cols[f] < F.lit(split), walk(left, depth + 1)).otherwise(
            walk(right, depth + 1)
        )

    total = walk(forest.trees[0], 0)
    for t in forest.trees[1:]:
        total = total + walk(t, 0)
    return total


def forest_depth_sql(forest: IsolationForest, exprs: list[str]) -> str:
    """The same ladder as ANSI SQL (DuckDB-oracle mirror of
    forest_depth_column): identical tree walk, identical literal repr
    (Python float repr round-trips to the same IEEE double), identical
    left-to-right sum order; every literal is emitted as
    CAST('<repr>' AS DOUBLE) — a bare decimal literal types as DECIMAL in
    ANSI engines, and even `<literal>::DOUBLE` parses DECIMAL-first and
    loses the last ulp; the string cast is a correctly-rounded
    strtod on every engine."""
    def walk(tree, depth: int) -> str:
        if tree[0] is None:
            return f"CAST('{float(depth + _c(tree[1]))!r}' AS DOUBLE)"
        f, split, left, right = tree
        return (
            f"CASE WHEN ({exprs[f]}) < CAST('{split!r}' AS DOUBLE) "
            f"THEN {walk(left, depth + 1)} ELSE {walk(right, depth + 1)} END"
        )

    return "(" + " + ".join(walk(t, 0) for t in forest.trees) + ")"


def forest_score_column(forest: IsolationForest, cols: list[Column]) -> Column:
    """iForest anomaly score 2^(-mean_depth / c(sample_size)) from the
    compiled ladder; NULL when any feature is NULL (matching
    isolation_forest_scores). Prefer flagging on the RAW depth sum
    (forest_depth_column <= threshold) when cross-engine exactness
    matters: depth sums are exact literal arithmetic, while pow() may
    differ in the last ulp between libm implementations."""
    k = 1.0 / (len(forest.trees) * _c(forest.sample_size))
    import functools

    guard = functools.reduce(lambda a, b: a & b, [c.isNotNull() for c in cols])
    return F.when(guard, F.pow(F.lit(2.0), -forest_depth_column(forest, cols) * F.lit(k)))


def forest_score_sql(forest: IsolationForest, exprs: list[str]) -> str:
    """SQL mirror of forest_score_column."""
    k = 1.0 / (len(forest.trees) * _c(forest.sample_size))
    guard = " AND ".join(f"({e}) IS NOT NULL" for e in exprs)
    return (
        f"CASE WHEN {guard} THEN "
        f"POWER(2.0, -{forest_depth_sql(forest, exprs)} * CAST('{k!r}' AS DOUBLE)) END"
    )


def isolation_forest_processor(
    df: DataFrame,
    feature_cols: list[str],
    *,
    num_trees: int = 64,
    sample_size: int = 256,
    seed: int = 7,
    threshold_quantile: float = 0.95,
    score_col: str = "anomaly_score",
    flag_col: str = "is_anomaly",
    forest: IsolationForest | None = None,
) -> DataFrame:
    """processor.go semantics over the flat model: append the per-record
    anomaly score and a flag set when the score clears the adaptive
    threshold — here the exact `threshold_quantile` quantile of this
    batch's scores (the reference keeps a rolling percentile of recent
    scores; a batch IS the window in batch mode). Pass a pre-fitted
    `forest` to pin the model across batches/restarts."""
    if forest is None:
        forest = fit_isolation_forest(
            df, feature_cols, num_trees=num_trees, sample_size=sample_size, seed=seed
        )
    # checkpointed: the threshold action below would otherwise run the
    # Python tree-walk twice, once for the percentile and again when the
    # caller consumes the returned frame
    scored = df.withColumn(
        score_col, isolation_forest_scores(forest, *[F.col(c) for c in feature_cols])
    ).localCheckpoint()
    thr = scored.selectExpr(
        f"percentile({score_col}, {threshold_quantile}) AS t"
    ).first()["t"]
    return scored.withColumn(
        flag_col,
        F.when(F.col(score_col).isNotNull(), F.col(score_col) >= F.lit(thr)),
    )
