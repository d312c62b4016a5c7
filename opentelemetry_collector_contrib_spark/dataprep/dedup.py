"""Deduplication operators over a text/document table.

Five families, each a DataFrame -> DataFrame stage built from JVM
higher-order functions (no Python in the hot path):

- exact_dedup:        hash-groupBy on a normalization key
- minhash_lsh_pairs:  shingle -> minhash signature -> band -> bucket join
                      -> exact-Jaccard verify (the classic MinHash+LSH
                      near-dup pipeline; Broder 1997)
- simhash:            per-doc bitwise majority fingerprint (Charikar 2002)
- ngram_jaccard_pairs: n-gram set Jaccard via an inverted-index join
- embedding_cosine_pairs: near-dup by embedding cosine (see similarity.py
                      for the bucketed scale path)

Scale notes (100 TB): every pair generator here reduces to an equality
join on a derived key (band hash / shared n-gram / bucket), so Spark
shuffles on that key instead of materializing the O(n^2) cross product.
Hot keys (stopword-ish shingles) are handled by dropping n-grams whose
document frequency exceeds `max_df` before the join — standard
prefix-filtering; skewed residue is absorbed by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MOD31 = 2147483647  # 2^31 - 1, the fingerprint modulus


def hash32(col: Column, seed: str = "") -> Column:
    """Deterministic 32-bit hash of a string column: first 8 hex chars of
    md5 as a bigint in [0, 2^32). Chosen (over xxhash64) because the exact
    same expression exists in ANSI SQL / DuckDB, so every operator built on
    it is oracle-checkable."""
    keyed = F.concat(F.lit(seed), col) if seed else col
    return F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("long")


def hash60(col: Column, seed: str = "") -> Column:
    """Deterministic 60-bit hash of a string column: first 15 hex chars of
    md5 as a bigint in [0, 2^60). Same DuckDB-mirrorable construction as
    hash32 but with all 60 bits varying — required by simhash, whose
    fingerprint bits each sample one bit of the per-word hash (a 32-bit
    hash would leave bits >= 32 constant and silently degenerate the
    banded hamming-LSH join to a cross product)."""
    keyed = F.concat(F.lit(seed), col) if seed else col
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def q4(x: Column) -> Column:
    """Quantize a double onto the 4-decimal grid as floor(x*1e4 + 0.5)/1e4
    (half-up toward +inf) in pure BINARY double arithmetic.

    Why not F.round: Spark's round() re-reads the double through its
    shortest DECIMAL representation (BigDecimal.valueOf) and rounds
    HALF_UP there, while DuckDB's ROUND rounds the raw binary value — on
    exact .00005 boundary hits the two disagree in the last digit, which
    flips the oracle value hash (first observed at sf1: 324 boundary
    cells across quality/ccnet_logppl in text_stats_suite).
    FLOOR(x*10000 + 0.5)/10000 is the same well-defined function of the
    same IEEE-754 input in both engines, so the outputs are bit-identical
    whenever the inputs are. Mirror in SQL with exactly that expression."""
    return F.floor(x * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def scale4(x: Column) -> Column:
    """A 4-decimal-grid double as an exact scaled LONG (x*1e4 rounded to
    the nearest integer). Use for order-insensitive SUM/AVG of grid
    values: double addition is order-dependent in the last ulp, so two
    engines summing the same multiset in different orders can disagree
    exactly at a downstream rounding boundary; integer sums cannot. Safe
    because the input is within one ulp of (integer)/1e4, so *1e4 lands
    within one ulp of the integer in both engines. SQL mirror:
    CAST(ROUND(x*10000) AS BIGINT)."""
    return F.round(x * F.lit(10000.0)).cast("long")


def words(text: Column) -> Column:
    return F.split(text, " ")


def array_shingles(w: Column, k: int = 3) -> Column:
    """Distinct k-gram shingles over a word-array column. Pure column
    expression: k-1 zip_with passes over shifted slices — same values as
    the transform+slice form but without allocating a k-element array per
    gram (~2x on the MinHash/Jaccard hot path). concat_ws skips the NULLs
    zip_with pads past the shorter slice, so arrays shorter than k words
    yield their whole content as the single shingle."""
    n = F.size(w)
    m = F.greatest(n - (k - 1), F.lit(1))
    grams = F.slice(w, 1, m)
    for j in range(1, k):
        grams = F.zip_with(
            grams, F.slice(w, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(grams)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a text column (array<string>)."""
    return array_shingles(words(text), k)


def exact_dedup(
    df: DataFrame, key: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on a normalization key: keep the lowest id per key,
    annotate with the duplicate-group size. One hash-aggregate shuffle,
    map-side combined."""
    return (
        df.select(F.col(id_col), key.alias("dedup_key"))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def hash_xx(col: Column, seed: int = 0) -> Column:
    """Production 64-bit hash: one JVM xxhash64 call — roughly an order of
    magnitude cheaper per shingle than the md5/conv/substring chain of
    hash32. Not DuckDB-expressible, so operators built on it are verified
    by parity tests against the hash32 path instead of a SQL oracle."""
    return F.xxhash64(F.lit(seed), col)


def affine_params(num_hashes: int) -> list:
    """Deterministic (a, b) coefficients for the universal hash family
    h_s(x) = (a_s * h(x) + b_s) mod p, p = 2^31-1 (Carter-Wegman).
    Derived from md5 of the slot index at PLAN time (plain Python), so
    the exact same integer literals can be pasted into the DuckDB oracle
    SQL. a in [1, p), b in [0, p): products stay < 2^62 — no ANSI-mode
    overflow."""
    import hashlib

    out = []
    for s in range(num_hashes):
        a = int(hashlib.md5(f"a{s}".encode()).hexdigest()[:8], 16) % (MOD31 - 1) + 1
        b = int(hashlib.md5(f"b{s}".encode()).hexdigest()[:8], 16) % MOD31
        out.append((a, b))
    return out


def minhash_signature(
    shingles: Column, num_hashes: int = 16, hash_impl: str = "md5"
) -> Column:
    """MinHash signature: array of num_hashes longs, element s =
    min over shingles of (a_s * h(shingle) + b_s) mod 2^31-1 — ONE base
    hash per shingle plus num_hashes multiply-adds, instead of num_hashes
    independent hashes (the affine family is min-wise independent enough
    in practice; Broder et al. 1998). The base-hash node appears exactly
    once in the expression tree (hs -> per-slot affine array -> element-
    wise-min fold), so CollapseProject cannot duplicate the md5 work the
    way per-seed array_min(transform(...)) did — this took the md5 oracle
    path from 16 md5s/shingle to 1.

    hash_impl 'md5' (hash32 base) is the oracle-checkable path — the
    DuckDB SQL replays the same constants; 'xxhash' is the production
    path (one JVM xxhash64 per shingle, ~10x cheaper still)."""
    if hash_impl == "xxhash":
        base = lambda x: F.pmod(hash_xx(x), F.lit(MOD31))  # noqa: E731
    else:
        base = lambda x: hash32(x) % MOD31  # noqa: E731
    params = affine_params(num_hashes)
    hs = F.transform(shingles, base)
    per_slot = F.transform(
        hs,
        lambda h: F.array(
            *[(h * F.lit(a) + F.lit(b)) % MOD31 for (a, b) in params]
        ),
    )
    init = F.array(*[F.lit(MOD31).cast("long")] * num_hashes)
    return F.aggregate(
        per_slot, init, lambda acc, v: F.zip_with(acc, v, lambda x, y: F.least(x, y))
    )


def lsh_bands(sig: Column, bands: int, rows: int, hash_impl: str = "md5") -> Column:
    """Explodeable array of (band, band_hash) structs. Two docs whose
    signatures agree on all `rows` values of some band land in the same
    bucket — the equality-join key that replaces the all-pairs product."""
    def band_hash(j: int) -> Column:
        vals = [F.element_at(sig, j * rows + i + 1) for i in range(rows)]
        if hash_impl == "xxhash":
            return F.xxhash64(*vals).cast("string")
        return F.md5(F.concat_ws(",", *[v.cast("string") for v in vals]))

    return F.array(
        *[
            F.struct(F.lit(j).alias("band"), band_hash(j).alias("band_hash"))
            for j in range(bands)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_impl: str = "md5",
) -> DataFrame:
    """Near-duplicate pairs: MinHash+LSH candidate generation, exact
    word-k-gram Jaccard verification. Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold (rounded to 4).

    Plan shape (the 100 TB design):
    1. one narrow pass computes shingles + signature + band hashes;
    2. the candidate self-join runs over the SLIM (id, band, band_hash)
       frame only — shingle arrays never enter the band shuffle, which
       keeps shuffle bytes ~ O(rows x bands x 24B) instead of carrying
       every shingle array `bands` times;
    3. surviving candidate pairs (tiny vs the corpus) re-join the
       checkpointed shingle frame for exact verification — AQE
       broadcasts the candidate side, so the verify join is map-side.

    hash_impl: 'md5' (default) is bit-reproducible in DuckDB — the
    correctness-oracle path; 'xxhash' is the production path (same plan,
    ~10x cheaper signatures — see BASELINE.md bench table).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "otherwise trailing signature elements are silently unused"
        )
    rows = num_hashes // bands
    # reused by the signature pass AND the verify re-join — without the
    # checkpoint both would recompute the shingle transform
    base = docs.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).localCheckpoint()
    sigs = base.withColumn(
        "sig", minhash_signature(F.col("sh"), num_hashes, hash_impl)
    )
    # the self-join would otherwise recompute the full signature
    # (num_hashes x shingles hashes) on BOTH sides — the signature pass
    # dominates cost at any scale, so materialize the slim banded frame once
    banded = (
        sigs.select(
            "id", F.explode(lsh_bands(F.col("sig"), bands, rows, hash_impl)).alias("b")
        )
        .select("id", F.col("b.band").alias("band"), F.col("b.band_hash").alias("bh"))
        .localCheckpoint()
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    scored = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.round(inter / union, 4)
    return (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash fingerprint over the distinct words of a text column:
    bit i is the sign of sum(+1/-1 per word depending on word-hash bit i).
    Narrow (no shuffle): one aggregate over the word array per bit.
    bits <= 60 (every fingerprint bit must sample a VARYING bit of the
    60-bit per-word hash; the fingerprint lives in a signed LongType)."""
    if bits > 60:
        raise ValueError("simhash supports at most 60 bits (60-bit per-word hash)")
    ws = F.array_distinct(words(text))
    hs = F.transform(ws, lambda w: hash60(w))
    def bit_folder(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for i in range(bits):
        bit_sum = F.aggregate(hs, F.lit(0), bit_folder(i))
        out = out + F.when(bit_sum > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return out


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS via banded hamming-LSH (the step after
    the fingerprint): split the b-bit fingerprint into max_hamming+1
    bands — two fingerprints within hamming distance d <= max_hamming must
    agree EXACTLY on at least one band (pigeonhole), so candidates reduce
    to an equality self-join on (band_index, band_bits); verification is
    one JVM bit_count(xor) per candidate. Returns (id_a, id_b, hamming).
    Trailing bits not covered by an even band split only make collisions
    MORE likely, so the pigeonhole no-false-negative guarantee holds.

    At corpus scale this is the same shape as MinHash-LSH: a narrow
    fingerprint pass, a slim (id, band, bits) shuffle, and a candidate
    set ~ true-duplicate pairs."""
    bands = max_hamming + 1
    width = bits // bands
    fp = simhash(F.col(text_col), bits)
    base = docs.select(F.col(id_col).alias("id"), fp.alias("fp"))
    band_cols = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftrightunsigned(F.col("fp"), j * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bb"),
            )
            for j in range(bands)
        ]
    )
    banded = base.select("id", "fp", F.explode(band_cols).alias("b")).select(
        "id", "fp", F.col("b.band").alias("band"), F.col("b.bb").alias("bb")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "bb"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    ngram: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """n-gram set Jaccard near-dup pairs via an inverted-index
    (explode + equality self-join on the gram). `max_df` drops grams that
    occur in more than max_df docs before the join — the prefix filter
    that keeps the join from exploding on stopword-ish grams at scale."""
    base = docs.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), ngram).alias("grams"),
    ).withColumn("n", F.size("grams"))
    inv = base.select("id", "n", F.explode("grams").alias("g"))
    if max_df is not None:
        df_counts = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        # no broadcast hint: the distinct-gram dictionary scales with the
        # corpus (billions of rows at 100 TB even after the max_df filter),
        # so a forced broadcast is a driver OOM — the join key is already
        # the gram, so the shuffled path is correct; AQE still turns this
        # into a broadcast join when the filtered side happens to be small
        inv = inv.join(df_counts.filter(F.col("df") <= max_df), "g")
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        4,
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs -> (id, cluster)
    where cluster = min id in the component (the canonical keeper).

    Iterative min-label propagation WITH pointer jumping: each round
    takes the min over neighbours' labels and then shortcuts every label
    to its label's label (label-of-label), so the distance a min travels
    roughly doubles per round — O(log(diameter)) rounds of keyed
    shuffles, not O(diameter) (plain one-hop propagation needs a round
    per hop and a 30-doc duplicate chain would blow the default
    max_iter). Converges when no label changes. At 10^12-pair scale the
    same loop applies with the edges pre-partitioned by node.
    """
    edges = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    ).unionByName(
        pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b"))
    ).localCheckpoint()
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn(
        "cluster", F.col("id")
    ).localCheckpoint()
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("cluster").alias("nmin"))
        )
        # the pointer-jumping self-join below puts TWO copies of
        # `stepped` in the round's plan; checkpointing flattens each
        # round to a leaf, so the plan does not double every round
        stepped = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["a"], "left")
            .select(
                "id",
                F.least(F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))).alias("cluster"),
            )
            .localCheckpoint()
        )
        # pointer jumping: shortcut each label to its label's label —
        # this is what makes convergence O(log d); cluster always names
        # an id present in `stepped`, so the left join's coalesce is only
        # for self-labels
        ll = stepped.select(
            F.col("id").alias("__lid"), F.col("cluster").alias("__lcl")
        )
        new_labels = (
            stepped.join(ll, stepped["cluster"] == ll["__lid"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("__lcl"), F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # exiting via max_iter means labels are NOT the component minimum
        # (a duplicate chain longer than max_iter hops) — failing loudly
        # beats returning silently non-canonical clusters
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (with pointer jumping, rounds needed "
            "~ log2 of the longest duplicate-chain diameter)"
        )
    return labels


def dedupe_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.8,
    hash_impl: str = "xxhash",
    keep_stats: bool = False,
    **minhash_kw,
) -> DataFrame:
    """The end-to-end near-dup REMOVAL pipeline a training-data run
    actually executes (compose of the building blocks above): MinHash+LSH
    candidate pairs -> exact-Jaccard verify -> connected components ->
    keep each component's canonical representative (min id) and every
    unpaired document. Returns the deduplicated corpus; with
    keep_stats=True adds (cluster, cluster_size) for the survivors.

    Scale: the pair stage's shuffles are the slim band joins documented
    on minhash_lsh_pairs; the removal itself is one left_anti join
    against the (tiny) non-representative id set."""
    pairs = minhash_lsh_pairs(
        docs, text_col, id_col, threshold=threshold, hash_impl=hash_impl,
        **minhash_kw,
    )
    clusters = duplicate_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    kept = docs.join(losers, id_col, "left_anti")
    if keep_stats:
        sizes = clusters.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        kept = (
            kept.join(
                clusters.withColumnRenamed("id", id_col), id_col, "left"
            )
            .join(sizes, "cluster", "left")
            .withColumn("cluster", F.coalesce("cluster", F.col(id_col)))
            .withColumn("cluster_size", F.coalesce("cluster_size", F.lit(1)))
        )
    return kept


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    lines_col: Column | None = None,
    keep: str = "first",
    normalize: bool = False,
) -> DataFrame:
    """Corpus-level duplicated-LINE removal (CCNet, Wenzek et al. 2020
    arXiv:1911.00359 §3.1 "deduplicating paragraphs"; also the line-dedup
    stage of RefinedWeb): a line whose (optionally normalized) form
    already appeared earlier in the corpus — ordered by (doc id, line
    index) — is cut from the document. keep='none' instead cuts EVERY
    occurrence of a line that appears more than once (C4's policy for
    three-sentence spans).

    `lines_col` overrides the split when the caller already has an
    array<string> of lines/paragraphs. `normalize=True` applies CCNet's
    collision key (lowercase, strip everything but letters and spaces).
    Lines whose key is blank (empty or whitespace-only — under either
    key) are never treated as duplicates: blank separators would
    otherwise all collide corpus-wide and every multi-paragraph document
    would silently lose its structure.

    Returns one row per input document — including NULL-text documents,
    which come back with an empty ``<text_col>_dedup`` (NULL splits to
    nothing, so they'd otherwise vanish from the explode). Documents
    whose every line was cut keep a row with an empty string.

    Scale: one shuffle partitioned by the line key (window rank decides
    the corpus-first copy — at 10^12 docs the hot keys are boilerplate
    lines, bounded by per-key occurrence counts, and AQE skew-split
    applies), then one groupBy(id) to reassemble. Line text crosses each
    shuffle once; nothing is collected."""
    from pyspark.sql import Window

    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    src = (
        F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        if lines_col is None
        else lines_col
    )
    # a NULL text / NULL or empty lines_col array explodes to zero rows
    # and the document would vanish from the groupBy reassembly — give it
    # one blank line instead (blank lines are exempt from dedup below)
    lines = F.when(F.size(src) > 0, src).otherwise(F.array(F.lit("")))
    ex = df.select(F.col(id_col).alias("__id"), F.posexplode(lines).alias("__idx", "__line"))
    if normalize:
        key = F.trim(F.regexp_replace(F.lower(F.col("__line")), "[^a-z ]", ""))
    else:
        key = F.col("__line")
    ex = ex.withColumn("__key", key)
    w = Window.partitionBy("__key").orderBy("__id", "__idx")
    # blank separators are structure, not content — exempt under BOTH key
    # modes (raw keys: without this every blank line in the corpus except
    # the corpus-first would be cut, mangling paragraph structure)
    is_blank = F.trim(F.col("__key")) == ""
    if keep == "first":
        keep_line = is_blank | (F.row_number().over(w) == 1)
    else:
        keep_line = is_blank | (F.count(F.lit(1)).over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)) == 1)
    ranked = ex.withColumn("__keep", keep_line)
    rebuilt = ranked.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("__idx"), F.col("__line").alias("l")),
                        )
                    )
                ),
                lambda x: x["l"],
            ),
            sep,
        ).alias(f"{text_col}_dedup"),
    )
    return rebuilt.select(
        F.col("__id").alias(id_col), f"{text_col}_dedup", "n_lines", "n_removed"
    )
