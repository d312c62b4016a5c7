"""Training-data-prep query registry: dedup / similarity / clustering /
split operators over the `documents` and `embeddings` tables, each
with a DuckDB oracle that mirrors the exact arithmetic (same hash — md5
first-8-hex — same double-precision evaluation order, same rounding).

REGISTRY_DATAPREP maps name -> (query_fn, oracle_sql | None).
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dataprep import dedup, similarity
from ..session import cached
from .queries_suites import _documents, _events


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Two grains united under one oracle row: document-level exact dedup
    (hash-groupBy on a normalization key) and corpus-level duplicated-LINE
    removal (dedup.line_dedup — the CCNet/RefinedWeb paragraph-dedup
    stage). The synthetic documents are single-line word streams, so the
    line grain is synthesized as consecutive 8-word paragraphs (pure
    column expression, mirrored 1:1 in DuckDB).

    kind='doc':  k = dedup key, a = keeper doc, b = group size
    kind='line': k = doc id,    a = lines removed, b = hash60 of the
                 reassembled deduplicated text"""
    docs = _documents(spark, sf_dir)
    key = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5))
    doc_rows = (
        dedup.exact_dedup(docs, key)
        .filter(F.col("group_size") > 1)
        .select(
            F.lit("doc").alias("kind"),
            F.col("dedup_key").alias("k"),
            F.col("keeper_id").alias("a"),
            F.col("group_size").alias("b"),
        )
    )
    ws = F.split(F.col("text"), " ")
    paragraphs = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(ws) / 8).cast("int") - 1),
        lambda i: F.array_join(F.slice(ws, i * 8 + 1, 8), " "),
    )
    line_rows = dedup.line_dedup(
        docs, id_col="doc_id", text_col="text", lines_col=paragraphs
    ).select(
        F.lit("line").alias("kind"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("n_removed").alias("a"),
        dedup.hash60(F.col("text_dedup")).alias("b"),
    )
    return doc_rows.unionByName(line_rows)


SQL_DEDUP_EXACT = """
WITH doc_rows AS (
  SELECT 'doc' AS kind,
         array_to_string(string_split(text,' ')[1:5], ' ') AS k,
         MIN(doc_id) AS a, COUNT(*) AS b
  FROM documents GROUP BY 2 HAVING COUNT(*) > 1
),
para AS (
  SELECT doc_id, i AS idx,
         array_to_string(ws[(i*8+1)::BIGINT:(i*8+8)::BIGINT], ' ') AS line
  FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       UNNEST(range(0, ceil(len(ws)/8.0)::BIGINT)) AS u(i)
),
ranked AS (
  SELECT doc_id, idx, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
  FROM para
),
line_rows AS (
  SELECT 'line' AS kind, doc_id::VARCHAR AS k,
         COUNT(*) FILTER (WHERE rn > 1) AS a,
         ('0x' || substr(md5(coalesce(
             string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE rn = 1),
             '')), 1, 15))::BIGINT AS b
  FROM ranked GROUP BY doc_id
)
SELECT * FROM doc_rows UNION ALL SELECT * FROM line_rows
"""


def q_dedup_minhash(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_documents(spark, sf_dir))


# the sig terms replay minhash_signature's universal-hash family with the
# exact (a_s, b_s) literals the Spark plan uses (dedup.affine_params)
_MH_SIG_TERMS = ",\n           ".join(
    f"list_min(list_transform(hs, h -> (h*{a} + {b}) % 2147483647))"
    for (a, b) in dedup.affine_params(16)
)

SQL_DEDUP_MINHASH = f"""
WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w)-2,1)+1),
                       i -> array_to_string(w[i:i+2], ' '))) AS sh
  FROM w
),
sigs AS (
  SELECT doc_id, sh,
         [{_MH_SIG_TERMS}] AS sig
  FROM (SELECT doc_id, sh,
               list_transform(sh, x ->
                 ('0x'||substr(md5(x),1,8))::BIGINT % 2147483647) AS hs
        FROM sh)
),
bands AS (
  SELECT doc_id, sh, t.j,
         md5(sig[t.j*4+1]::VARCHAR||','||sig[t.j*4+2]::VARCHAR||','||
             sig[t.j*4+3]::VARCHAR||','||sig[t.j*4+4]::VARCHAR) AS bh
  FROM sigs, UNNEST([0,1,2,3]) AS t(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         ROUND(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash fingerprint AND banded hamming-LSH near-dup pairs in one
    oracle row: per-doc 16-bit fingerprint + the per-doc count of
    partners within hamming<=3 of its 48-bit fingerprint, produced by
    simhash_pairs' pigeonhole band join (the oracle computes the same
    set brute-force — the LSH is exact, so the counts must agree)."""
    docs = _documents(spark, sf_dir)
    fp = docs.select("doc_id", dedup.simhash(F.col("text"), 16).alias("simhash"))
    pairs = dedup.simhash_pairs(docs, bits=48, max_hamming=3)
    part = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return fp.join(part, "doc_id", "left").withColumn(
        "n_near", F.coalesce("n_near", F.lit(0).cast("long"))
    )


def _simhash_expr(bits: int) -> str:
    bit_terms = []
    for i in range(bits):
        bit_terms.append(
            f"(CASE WHEN list_sum(list_transform(hs, h -> "
            f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(bit_terms)


SQL_DEDUP_SIMHASH = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text,' ')),
                        w -> ('0x'||substr(md5(w),1,15))::BIGINT) AS hs
  FROM documents
),
fp16 AS (SELECT doc_id, {_simhash_expr(16)} AS simhash FROM h),
fp48 AS (SELECT doc_id, {_simhash_expr(48)} AS fp FROM h),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fp48 a JOIN fp48 b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp, b.fp)) <= 3
),
part AS (
  SELECT doc_id, COUNT(*) AS n_near FROM (
    SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b AS doc_id FROM pairs
  ) GROUP BY 1
)
SELECT f.doc_id, f.simhash, CAST(COALESCE(p.n_near, 0) AS BIGINT) AS n_near
FROM fp16 f LEFT JOIN part p USING (doc_id)
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _documents(spark, sf_dir), ngram=2, threshold=0.5
    )


SQL_DEDUP_NGRAM_JACCARD = """
WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w)-1,1)+1),
                       i -> array_to_string(w[i:i+1], ' '))) AS grams
  FROM w
),
scored AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
               / (len(a.grams) + len(b.grams)
                  - len(list_intersect(a.grams, b.grams)))::DOUBLE, 4) AS jaccard
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams)) >= 1
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
"""


def q_dedup_embedding_cosine(spark, sf_dir):
    """Three cosine near-dup paths in one oracle row: the exact
    all-pairs check ('exact'), the sign-bucketed scale path ('bucketed',
    the production shape — equality join on the LSH bucket, no theta
    join), and SemDeDup ('semdedup', Abbas et al. 2023 — clustered
    semantic dedup; each dropped vector is emitted as the pair
    (dropped_id, shielding higher-priority duplicate). Centroids are the
    first 8 corpus vectors, persisted-index style, which is what makes
    the cluster assignment oracle-able."""
    emb = _embeddings(spark, sf_dir)
    exact = similarity.embedding_cosine_pairs(emb, threshold=0.35).withColumn(
        "path", F.lit("exact")
    )
    bucketed = similarity.embedding_cosine_pairs(
        emb, threshold=0.35, bucket_bits=8, dim=64
    ).withColumn("path", F.lit("bucketed"))
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    sem = (
        similarity.semdedup(emb, centroids=cents, threshold=0.35)
        .filter(~F.col("kept"))
        .select(
            F.col("id").alias("id_a"),
            F.col("shield_id").alias("id_b"),
            F.round("shield_cos", 4).alias("cos"),
            F.lit("semdedup").alias("path"),
        )
    )
    return exact.unionByName(bucketed).unionByName(sem)


def _hp_bucket_sql(bits: int = 8, dim: int = 64, seed: int = 7, vec: str = "embedding") -> str:
    """DuckDB mirror of similarity.sign_bucket: bit j = sign of the
    projection onto the SAME seeded ±1 hyperplane (literal list embedded
    in the SQL; ±1 entries make each product an exact sign flip, so both
    engines sum identical doubles in identical order)."""
    hps = similarity.random_hyperplanes(dim, bits, seed)
    terms = []
    for j, h in enumerate(hps):
        lit = "[" + ",".join("1.0" if x > 0 else "-1.0" for x in h) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1,{dim + 1}), "
            f"i -> {vec}[i]::DOUBLE * ({lit})[i])) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


_BUCKET8_SQL = _hp_bucket_sql(8, 64, 7)

SQL_DEDUP_EMBEDDING_COSINE = f"""
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
         {_BUCKET8_SQL} AS bucket
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.bucket = b.bucket AS same_bucket,
         ROUND(list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
               / (a.nrm * b.nrm), 4) AS cos
  FROM n a JOIN n b ON a.vec_id < b.vec_id
),
-- SemDeDup (fixed centroids = first 8 vectors, the same persisted-index
-- discipline as the ANN oracle): priority = centroid cosine ASC with id
-- tie-break (low-sim kept first); a vector is dropped when a
-- higher-priority same-cluster member has cos >= threshold, and the
-- emitted pair is its max-cos (min-id tie-break) shield
cent AS (
  SELECT vec_id AS cid, embedding AS cv,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS cnrm
  FROM embeddings WHERE vec_id < 8
),
cdist AS (
  SELECT n.vec_id, cent.cid, cent.cnrm,
         list_sum(list_transform(range(1, len(n.embedding)+1),
           i -> (n.embedding[i]::DOUBLE - cent.cv[i]::DOUBLE)
              * (n.embedding[i]::DOUBLE - cent.cv[i]::DOUBLE))) AS dist,
         list_sum(list_transform(range(1, len(n.embedding)+1),
           i -> n.embedding[i]::DOUBLE * cent.cv[i]::DOUBLE)) AS cdot
  FROM n, cent
),
sd AS (
  SELECT n.vec_id, n.embedding, n.nrm, d.cid AS cell,
         ROUND(d.cdot / (n.nrm * d.cnrm), 6) AS csim
  FROM n JOIN (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
    FROM cdist
  ) d ON d.vec_id = n.vec_id AND d.rnk = 1
),
sd_pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         ROUND(list_sum(list_transform(range(1, len(l.embedding)+1),
                 i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE))
               / (l.nrm * r.nrm), 6) AS cos
  FROM sd l JOIN sd r
    ON l.cell = r.cell
   AND (r.csim < l.csim OR (r.csim = l.csim AND r.vec_id < l.vec_id))
),
sd_shield AS (
  SELECT id_a, id_b, cos,
         ROW_NUMBER() OVER (PARTITION BY id_a
                            ORDER BY cos DESC, id_b ASC) AS rn
  FROM sd_pairs WHERE cos >= 0.35
)
SELECT id_a, id_b, cos, 'exact' AS path FROM scored WHERE cos >= 0.35
UNION ALL
SELECT id_a, id_b, cos, 'bucketed' AS path FROM scored WHERE cos >= 0.35 AND same_bucket
UNION ALL
SELECT id_a, id_b, ROUND(cos, 4) AS cos, 'semdedup' AS path
FROM sd_shield WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark, sf_dir):
    """Both ANN paths in one oracle row: exact brute-force top-k
    ('brute') AND IVF with a deterministic coarse quantizer ('ivf') —
    centroids are the first 8 corpus vectors, persisted-index style
    (ivf_fit_centroids documents why a production index is fit once and
    stored; a FIXED centroid set is what makes the query oracle-able)."""
    emb = _embeddings(spark, sf_dir)
    bf = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=3
    ).withColumn("path", F.lit("brute"))
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    ivf = (
        similarity.ivf_topk(
            emb,
            queries=emb.filter(F.col("vec_id") < 10),
            centroids=cents,
            nprobe=2,
            k=3,
        )
        .withColumnRenamed("vec_id", "query_id")
        .withColumn("path", F.lit("ivf"))
    )
    return bf.unionByName(ivf)


SQL_ANN_COSINE_TOPK = """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(1, len(q.embedding)+1),
                 i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
               / (q.nrm * c.nrm), 6) AS cos
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
),
cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
cdist AS (
  SELECT n.vec_id, cent.cid,
         list_sum(list_transform(range(1, len(n.embedding)+1),
           i -> (n.embedding[i]::DOUBLE - cent.cv[i]::DOUBLE)
              * (n.embedding[i]::DOUBLE - cent.cv[i]::DOUBLE))) AS dist
  FROM n, cent
),
crank AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
  FROM cdist
),
cells AS (SELECT vec_id, cid AS cell FROM crank WHERE rnk = 1),
probes AS (SELECT vec_id AS qid, cid AS cell FROM crank
           WHERE rnk <= 2 AND vec_id < 10),
ivf_scored AS (
  SELECT p.qid AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(1, len(q.embedding)+1),
                 i -> q.embedding[i]::DOUBLE * nb.embedding[i]::DOUBLE))
               / (q.nrm * nb.nrm), 6) AS cos
  FROM probes p
  JOIN cells c USING (cell)
  JOIN n q ON q.vec_id = p.qid
  JOIN n nb ON nb.vec_id = c.vec_id
  WHERE c.vec_id <> p.qid
),
ivf_ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM ivf_scored
)
SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cos, 'brute' AS path
FROM ranked WHERE rank <= 3
UNION ALL
SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cos, 'ivf' AS path
FROM ivf_ranked WHERE rank <= 3
"""


def q_ann_sign_lsh(spark, sf_dir):
    return similarity.sign_lsh_topk(_embeddings(spark, sf_dir), bits=8, k=1, dim=64)


_BUCKET_SQL = _hp_bucket_sql(8, 64, 7)

SQL_ANN_SIGN_LSH = f"""
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
),
scored AS (
  SELECT l.vec_id, r.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(1, len(l.embedding)+1),
                 i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE))
               / (l.nrm * r.nrm), 6) AS cos
  FROM n l JOIN n r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT vec_id, rank, neighbor_id, ROUND(cos, 4) AS cos FROM ranked WHERE rank <= 1
"""


# ---------------------------------------------------------------------------
# near-dup clusters, dataset split, collector transform chains
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash+LSH pairs -> connected components ->
    (id, cluster) with cluster = canonical keeper (min id)."""
    pairs = dedup.minhash_lsh_pairs(_documents(spark, sf_dir))
    return dedup.duplicate_clusters(pairs).select("id", "cluster")


# transitive closure of the (mirrored) near-dup edge set via a recursive
# CTE; cluster = min reachable id (incl. self) — identical to min-label
# propagation's fixpoint. One hash-to-min contraction round runs first
# (the standard MapReduce connected-components primitive: every node v
# re-wires its neighborhood through m(v) = min(N(v) ∪ {v})) — it is
# component-preserving for ANY graph (new edges stay within v's
# component; u—m(v)—v keeps every original edge's endpoints connected),
# and it collapses the near-dup cliques to stars, without which the
# recursive closure's working join is cubic in clique size (sf10's
# clique-100 documents made the naive closure produce ~5B intermediate
# rows; the contracted one produces ~50M)
SQL_DEDUP_CLUSTERS = (
    SQL_DEDUP_MINHASH.replace(
        "SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5",
        """e0 AS MATERIALIZED (
  -- MATERIALIZED throughout this chain: DuckDB 1.0 inlines CTEs per
  -- reference, and e0/mn/edges are each read 2-4 times below — inlined,
  -- the FULL minhash+verify pipeline above re-runs once per reference
  -- (the sf10 sweep filled a 72 GB spill disk exactly that way). The
  -- materialized frames are the slim (id, id) edge tuples only.
  SELECT id_a AS a, id_b AS b FROM scored WHERE jaccard >= 0.5
  UNION ALL
  SELECT id_b, id_a FROM scored WHERE jaccard >= 0.5
),
mn AS MATERIALIZED (SELECT a, LEAST(a, MIN(b)) AS m FROM e0 GROUP BY a),
edges AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT mn.m AS a, e0.b FROM e0 JOIN mn USING (a)
    UNION ALL SELECT e0.b AS a, mn.m AS b FROM e0 JOIN mn USING (a)
    UNION ALL SELECT mn.m AS a, mn.a AS b FROM mn
    UNION ALL SELECT mn.a, mn.m FROM mn
  )
),
reach AS (
  SELECT a AS id, b AS peer FROM edges
  UNION
  SELECT r.id, e.b FROM reach r JOIN edges e ON r.peer = e.a
)
SELECT id, LEAST(id, MIN(peer)) AS cluster FROM reach GROUP BY id""",
    ).replace("WITH w AS", "WITH RECURSIVE w AS", 1)
    # the replace above folds `e0/mn/edges/reach` into the existing CTE
    # chain: "...)\nSELECT..." becomes "...),\ne0 AS (..." — fix the join
    .replace(")\ne0 AS MATERIALIZED (", "),\ne0 AS MATERIALIZED (", 1)
)


def q_dataset_split(spark, sf_dir):
    """hash_split AND stratified_sample under one oracle row: the
    deterministic train/val/test assignment, then per-(split, source)
    row counts before and after a per-stratum downsample (keep 100% of
    src0, 25% of src1, 50% of everything else — the training-mix shaping
    a corpus pipeline runs after splitting)."""
    from ..dataprep.split import hash_split, mixture_sample, stratified_sample

    docs = _documents(spark, sf_dir)
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    kept = stratified_sample(
        out, "source", {"src0": 1.0, "src1": 0.25}, default_fraction=0.5
    )
    # mixture_sample: subsample to a target LANGUAGE mixture (largest
    # corpus matching the weights, exact windowed-rank path), counted at
    # the same (split, source) grain as the other samplers
    mixed = mixture_sample(
        out, "lang", {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05}
    )
    full = out.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc")
    )
    samp = kept.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    mixc = (
        mixed.filter("mix_keep")
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_mix"))
    )
    base = (
        full.join(samp, ["split", "source"], "left")
        .join(mixc, ["split", "source"], "left")
        .withColumn("n_sampled", F.coalesce("n_sampled", F.lit(0).cast("long")))
        .withColumn("n_mix", F.coalesce("n_mix", F.lit(0).cast("long")))
    )
    # --- curate_corpus COMPOSITION invariants under the same oracle row
    # (round-4, VERDICT r3 #3): the end-to-end recipe a user actually
    # runs — exact dedup -> MinHash near-dup removal -> Gopher filter ->
    # CCNet bucket filter -> split -> tokenize -> ExactSubstr -> pack —
    # emitted as per-stage (row count, checksum) rows so a regression in
    # the COMPOSITION (stage wiring, filter order, join keys) flips this
    # CORRECTNESS row, not just pytest. hash_impl='md5' selects the
    # DuckDB-mirrorable minhash path; the token checksum of the packed
    # output is the conserved-token invariant (sum over every token of
    # every packed sequence).
    from ..dataprep.curate import curate_corpus

    stages = curate_corpus(
        spark,
        docs,
        ppl_buckets=64,
        span_len=16,
        max_len=64,
        num_shards=4,
        minhash_kw={"hash_impl": "md5"},
    )

    def srow(frame, label, cks):
        return frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(cks, F.lit(0)).cast("long").alias("first_doc"),
        ).select(
            F.lit("curate").alias("split"),
            F.lit(label).alias("source"),
            "n",
            "first_doc",
            F.lit(0).cast("long").alias("n_sampled"),
            F.lit(0).cast("long").alias("n_mix"),
        )

    assigned_rows = (
        stages["assigned"]
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("long").alias("first_doc"),
        )
        .select(
            F.lit("curate").alias("split"),
            F.concat(F.lit("assigned:"), F.col("split")).alias("source"),
            "n",
            "first_doc",
            F.lit(0).cast("long").alias("n_sampled"),
            F.lit(0).cast("long").alias("n_mix"),
        )
    )
    token_sum = F.sum(
        F.aggregate(
            F.col("tokens"), F.lit(0).cast("long"), lambda a, t: a + t
        )
    )
    # curate_corpus returns LAZY stage frames (the caller decides what to
    # materialize — its documented contract). Only this function reads
    # them, so they are cached while the few per-stage rows are computed:
    # each stage then runs once on top of the cached stage before it,
    # instead of every row re-running the dedup->filter->ppl->split->
    # tokenize chain (the re-evaluation the oracle side needed AS
    # MATERIALIZED for). The rows escape, so they are checkpointed.
    with ExitStack() as stack:
        for key in ("deduped", "filtered", "selected", "assigned", "tokens"):
            stack.enter_context(cached(stages[key]))
        curate_rows = (
            srow(stages["deduped"], "deduped", F.sum("doc_id"))
            .unionByName(srow(stages["filtered"], "filtered", F.sum("doc_id")))
            .unionByName(srow(stages["selected"], "selected", F.sum("doc_id")))
            .unionByName(assigned_rows)
            .unionByName(srow(stages["tokens"], "tokens", F.sum("n_removed")))
            .unionByName(srow(stages["packed"], "packed", token_sum))
            .localCheckpoint()
        )
    return base.unionByName(curate_rows)


SQL_DATASET_SPLIT = f"""
WITH RECURSIVE h AS (
  SELECT doc_id, source,
         ('0x'||substr(md5('split:' || doc_id::VARCHAR),1,8))::BIGINT AS hv,
         ('0x'||substr(md5('strata:' || doc_id::VARCHAR),1,8))::BIGINT AS sv
  FROM documents
),
assigned AS (
  SELECT doc_id, source, sv,
         CASE WHEN hv < {int((1 << 32) * 0.8)} THEN 'train'
              WHEN hv < {int((1 << 32) * 0.9)} THEN 'val'
              ELSE 'test' END AS split
  FROM h
),
kept AS (
  SELECT * FROM assigned
  WHERE (source = 'src0' AND sv < {int(1.0 * (1 << 32))})
     OR (source = 'src1' AND sv < {int(0.25 * (1 << 32))})
     OR (COALESCE(source IN ('src0', 'src1'), FALSE) = FALSE
         AND sv < {int(0.5 * (1 << 32))})
),
full_counts AS (
  SELECT split, source, COUNT(*) AS n, MIN(doc_id) AS first_doc
  FROM assigned GROUP BY 1, 2
),
samp_counts AS (
  SELECT split, source, COUNT(*) AS n_sampled FROM kept GROUP BY 1, 2
),
mixn AS (SELECT lang, COUNT(*) AS n_d FROM documents GROUP BY 1),
mixw AS (
  SELECT lang, n_d,
         CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2 WHEN 'fr' THEN 0.15
                   WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.05 END AS w_d
  FROM mixn
),
mixq AS (
  SELECT lang,
         CAST(floor(w_d * (SELECT MIN(floor(n_d / w_d)) FROM mixw WHERE w_d > 0))
              AS BIGINT) AS quota
  FROM mixw WHERE w_d IS NOT NULL
),
mixr AS (
  SELECT a.split, a.source, d.lang,
         ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY
           ('0x'||substr(md5('mix:'||a.doc_id::VARCHAR),1,8))::BIGINT,
           a.doc_id) AS rn
  FROM assigned a JOIN documents d USING (doc_id)
),
mix_counts AS (
  SELECT split, source, COUNT(*) AS n_mix
  FROM mixr JOIN mixq USING (lang) WHERE rn <= quota GROUP BY 1, 2
),
-- ======================================================================
-- curate_corpus composition mirror (round-4): the exact same stage chain
-- the Spark recipe composes, each fragment lifted from its independently
-- verified per-stage oracle (minhash: SQL_DEDUP_MINHASH; gopher/ccnet:
-- _sql_text_stats; exactsubstr/pack: SQL_SEQUENCE_PACKING)
-- ======================================================================
-- stage 1a: exact dedup on md5(lower(trim(text))), keeper = min doc_id
ck AS MATERIALIZED (
  SELECT doc_id, text, lang, md5(lower(trim(text))) AS ckey FROM documents
),
ckeep AS (SELECT MIN(doc_id) AS doc_id FROM ck GROUP BY ckey),
cexact AS MATERIALIZED (SELECT ck.doc_id, ck.text, ck.lang FROM ck JOIN ckeep USING (doc_id)),
-- stage 1b: MinHash+LSH near-dup pairs (k=3 shingles, 16 hashes,
-- 4 bands, jaccard >= 0.8, md5 hash family) + transitive closure;
-- survivors = docs that are their own component minimum (or unpaired)
cmw AS (SELECT doc_id, string_split(text,' ') AS w FROM cexact),
csh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w)-2,1)+1),
                       i -> array_to_string(w[i:i+2], ' '))) AS sh
  FROM cmw
),
csigs AS (
  SELECT doc_id, sh,
         [{_MH_SIG_TERMS}] AS sig
  FROM (SELECT doc_id, sh,
               list_transform(sh, x ->
                 ('0x'||substr(md5(x),1,8))::BIGINT % 2147483647) AS hs
        FROM csh)
),
cbands AS (
  SELECT doc_id, sh, t.j,
         md5(sig[t.j*4+1]::VARCHAR||','||sig[t.j*4+2]::VARCHAR||','||
             sig[t.j*4+3]::VARCHAR||','||sig[t.j*4+4]::VARCHAR) AS bh
  FROM csigs, UNNEST([0,1,2,3]) AS t(j)
),
ccand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cbands a JOIN cbands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id
),
cpairs AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b,
           ROUND(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
    FROM ccand c JOIN csh sa ON sa.doc_id = c.id_a
                 JOIN csh sb ON sb.doc_id = c.id_b
  ) WHERE jaccard >= 0.8
),
ce0 AS MATERIALIZED (
  -- same hash-to-min contraction round as SQL_DEDUP_CLUSTERS (see that
  -- mirror's comment): rewire every node through m(v) = min over N(v)+v
  -- before the recursive closure — component-preserving for any graph,
  -- and it collapses sf10's planted clique-100s to stars. Without it
  -- this embedded copy of the closure is the cubic blowup the
  -- dedup_clusters fix removed (the sf10 sweep ground >3h here).
  SELECT id_a AS a, id_b AS b FROM cpairs
  UNION ALL
  SELECT id_b, id_a FROM cpairs
),
cmn AS MATERIALIZED (SELECT a, LEAST(a, MIN(b)) AS m FROM ce0 GROUP BY a),
cedges AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT cmn.m AS a, ce0.b FROM ce0 JOIN cmn USING (a)
    UNION ALL SELECT ce0.b AS a, cmn.m AS b FROM ce0 JOIN cmn USING (a)
    UNION ALL SELECT cmn.m AS a, cmn.a AS b FROM cmn
    UNION ALL SELECT cmn.a, cmn.m FROM cmn
  )
),
creach AS (
  SELECT a AS id, b AS peer FROM cedges
  UNION
  SELECT r.id, e.b FROM creach r JOIN cedges e ON r.peer = e.a
),
closers AS (
  SELECT id FROM (
    SELECT id, LEAST(id, MIN(peer)) AS cluster FROM creach GROUP BY id
  ) WHERE cluster <> id
),
cdeduped AS MATERIALIZED (
  SELECT * FROM cexact WHERE doc_id NOT IN (SELECT id FROM closers)
),
-- stage 2: Gopher heuristic filter (same signal arithmetic as
-- _sql_text_stats, over the dedup survivors)
cgm AS (
  -- FLOOR(x*10000 + 0.5)/10000 quantizer, matching dedup.q4 /
  -- _sql_text_stats (DuckDB ROUND vs Spark round() disagree on exact
  -- .00005 boundaries)
  SELECT doc_id, text, lang, wn, len(wn)::DOUBLE AS n,
         FLOOR(len(list_distinct(list_transform(
                 range(1, greatest(len(wn)-1,1)+1),
                 i -> array_to_string(wn[i:i+1], ' '))))::DOUBLE
               / greatest(len(wn)-1, 1) * 10000 + 0.5)/10000 AS d2g_frac,
         FLOOR(len(regexp_extract_all(text, '#|…|\\.\\.\\.'))::DOUBLE
               / greatest(len(wn), 1) * 10000 + 0.5)/10000 AS sym_ratio,
         FLOOR(COALESCE(list_sum(list_transform(wn, x -> length(x))), 0)::DOUBLE
               / greatest(len(wn), 1) * 10000 + 0.5)/10000 AS mean_wlen
  FROM (SELECT doc_id, text, lang,
               list_filter(string_split(text,' '), x -> x <> '') AS wn
        FROM cdeduped)
),
cgruns AS (
  -- zipped SELECT-list unnests, NOT a lateral `..., UNNEST(range(...))`:
  -- the lateral copies the per-doc word list into every one of its
  -- len(wn) output rows (~30+ GB of pinned copies at sf10); the zipped
  -- form expands natively, one element per row (same fix as the
  -- text_stats `runs` fragment)
  SELECT doc_id, MAX(cnt) AS max_run FROM (
    SELECT doc_id, word, grp, COUNT(*) AS cnt FROM (
      SELECT doc_id, word,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, word
                                      ORDER BY pos) AS grp
      FROM (
        SELECT doc_id, unnest(wn) AS word,
               unnest(range(1, len(wn)+1)) AS pos
        FROM (SELECT doc_id,
                     list_filter(string_split(text,' '), x -> x <> '') AS wn
              FROM cdeduped)
      )
    ) GROUP BY 1, 2, 3
  ) GROUP BY 1
),
cfiltered AS MATERIALIZED (
  SELECT m.doc_id, m.text, m.lang
  FROM cgm m LEFT JOIN cgruns r USING (doc_id)
  WHERE len(m.wn) >= 50 AND len(m.wn) <= 100000
    AND m.mean_wlen BETWEEN 3.0 AND 10.0
    AND m.sym_ratio <= 0.1
    AND m.d2g_frac >= 0.2
    AND COALESCE(r.max_run, 0) <= 6
),
-- stage 3: CCNet bigram LM (64 buckets) fit on the FILTERED English
-- slice, scored over the filtered corpus, histogram-exact tertile
-- cutoffs, keep head+middle
ucw AS (
  SELECT doc_id, lang,
         list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                        x -> ('0x'||substr(md5(x),1,8))::BIGINT % 64) AS wb
  FROM cfiltered
),
ucp AS (
  -- aligned-slice zip (see cgruns): two equal-length slices unnested in
  -- the SELECT list, no per-row list copy
  SELECT doc_id, lang,
         unnest(wb[1:len(wb)-1]) AS b1,
         unnest(wb[2:len(wb)]) AS b2
  FROM ucw
),
ucc AS (SELECT b1, b2, COUNT(*) AS c12 FROM ucp WHERE lang = 'en' GROUP BY 1, 2),
uclm AS (
  SELECT b1, b2,
         FLOOR(ln((c12 + 0.5) / (SUM(c12) OVER (PARTITION BY b1) + 0.5*64))
               * 10000 + 0.5)/10000 AS logp
  FROM ucc
),
ucctx AS (SELECT b1, SUM(c12) AS c1 FROM ucc GROUP BY 1),
usc AS (
  -- exact scaled-long sum + one quantized division (mirrors the new
  -- ccnet.score_logppl): AVG over grid doubles is order-dependent in
  -- the last ulp and flips .5 rounding boundaries
  SELECT ucp.doc_id,
         FLOOR(-(SUM(CAST(ROUND(COALESCE(uclm.logp,
                 FLOOR(ln(0.5 / (COALESCE(ucctx.c1, 0) + 0.5*64))
                       * 10000 + 0.5)/10000) * 10000) AS BIGINT))::DOUBLE)
               / (COUNT(*) * 10000.0) * 10000 + 0.5)/10000 AS lp
  FROM ucp LEFT JOIN uclm USING (b1, b2) LEFT JOIN ucctx USING (b1)
  GROUP BY 1
),
uscored AS MATERIALIZED (
  SELECT d.doc_id, COALESCE(usc.lp, 0.0) AS logppl
  FROM cfiltered d LEFT JOIN usc USING (doc_id)
),
ucut AS (
  SELECT MIN(v) FILTER (WHERE cum * 3 >= tot) AS lo,
         MIN(v) FILTER (WHERE cum * 3 >= 2 * tot) AS hi
  FROM (SELECT v, SUM(cnt) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER () AS tot
        FROM (SELECT logppl AS v, COUNT(*) AS cnt FROM uscored GROUP BY 1))
),
uselected AS MATERIALIZED (
  SELECT s.doc_id FROM uscored s, ucut WHERE s.logppl <= ucut.hi
),
-- stage 4: deterministic split over the selected docs (0.9/0.05/0.05)
uassigned AS MATERIALIZED (
  SELECT u.doc_id,
         CASE WHEN hv < {int((1 << 32) * 0.9)} THEN 'train'
              WHEN hv < {int((1 << 32) * 0.95)} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               ('0x'||substr(md5('split:' || doc_id::VARCHAR),1,8))::BIGINT AS hv
        FROM uselected) u
),
-- stage 5: hashed-vocab tokenize + ExactSubstr duplicate-span removal
-- (16-token windows, corpus-first occurrence kept) over ALL splits
utok AS (
  SELECT a.doc_id, a.split,
         list_transform(string_split(d.text,' '),
                        w -> ('0x'||substr(md5(w),1,8))::BIGINT % 50257) AS t
  FROM uassigned a JOIN documents d USING (doc_id)
),
uwins AS (
  -- zipped unnest + hashed window key (same two fixes as the
  -- sequence_packing mirror's wins: no lateral list copy, and wi is
  -- only ever an equality key so an 8-byte hash replaces the
  -- comma-joined VARCHAR)
  SELECT doc_id,
         unnest(range(1, len(t)-16+2)) AS pos,
         unnest(list_transform(range(1, len(t)-16+2),
                i -> hash(array_to_string(t[i:i+15], ',')))) AS wi
  FROM utok
  WHERE len(t) >= 16
),
uocc AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY wi) AS c,
         ROW_NUMBER() OVER (PARTITION BY wi ORDER BY doc_id, pos) AS rn
  FROM uwins
),
urem AS (
  SELECT doc_id, list_sort(list(pos)) AS starts
  FROM uocc WHERE c >= 2 AND rn > 1 GROUP BY doc_id
),
uclean AS MATERIALIZED (
  SELECT u.doc_id, u.split,
         CASE WHEN r.starts IS NULL THEN u.t
              ELSE list_filter(u.t, (x, i) ->
                     len(list_filter(r.starts,
                         s -> i >= s AND i < s + 16)) = 0)
         END AS ct,
         len(u.t) AS n0
  FROM utok u LEFT JOIN urem r USING (doc_id)
),
-- stage 6: concat-and-chunk pack of the train split (max_len=64,
-- 4 shards, shard = doc_id % 4, docs ordered by id within shard)
-- (linear: the packed row only needs the per-shard chunk COUNT and the
-- conserved token SUM, both derivable from shard totals — flattening the
-- whole stream and slicing it per chunk is quadratic in stream length,
-- the same blowup SQL_SEQUENCE_PACKING's mirror had at sf1)
upacked AS MATERIALIZED (
  SELECT doc_id % 4 AS shard,
         ceil(SUM(len(ct)) / 64.0)::BIGINT AS n_seqs,
         COALESCE(SUM(COALESCE(list_sum(ct), 0)), 0)::BIGINT AS tok_sum
  FROM uclean WHERE split = 'train' GROUP BY 1
)
SELECT f.split, f.source, f.n, f.first_doc,
       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(COALESCE(m.n_mix, 0) AS BIGINT) AS n_mix
FROM full_counts f LEFT JOIN samp_counts s USING (split, source)
LEFT JOIN mix_counts m USING (split, source)
UNION ALL
SELECT 'curate', 'deduped', COUNT(*), COALESCE(SUM(doc_id), 0)::BIGINT,
       0::BIGINT, 0::BIGINT FROM cdeduped
UNION ALL
SELECT 'curate', 'filtered', COUNT(*), COALESCE(SUM(doc_id), 0)::BIGINT,
       0::BIGINT, 0::BIGINT FROM cfiltered
UNION ALL
SELECT 'curate', 'selected', COUNT(*), COALESCE(SUM(doc_id), 0)::BIGINT,
       0::BIGINT, 0::BIGINT FROM uselected
UNION ALL
SELECT 'curate', 'assigned:' || split, COUNT(*),
       COALESCE(SUM(doc_id), 0)::BIGINT, 0::BIGINT, 0::BIGINT
FROM uassigned GROUP BY 2
UNION ALL
SELECT 'curate', 'tokens', COUNT(*),
       COALESCE(SUM(n0 - len(ct)), 0)::BIGINT, 0::BIGINT, 0::BIGINT
FROM uclean
UNION ALL
SELECT 'curate', 'packed', COALESCE(SUM(n_seqs), 0)::BIGINT,
       COALESCE(SUM(tok_sum), 0)::BIGINT,
       0::BIGINT, 0::BIGINT
FROM upacked
"""


def q_logstransform_chain(spark, sf_dir):
    """logstransformprocessor: an embedded stanza operator chain
    (regex_parser -> time_parser -> severity_parser) as one composed stage
    (/root/reference/processor/logstransformprocessor/)."""
    from ..operators import parsers

    ev = _events(spark, sf_dir).withColumn(
        "body",
        F.format_string(
            "%s [%s] uid=%d msg=event",
            F.when(F.col("event_type") == "error", "ERROR").otherwise("INFO"),
            F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss"),
            F.col("user_id"),
        ),
    )
    out = parsers.regex_parser(
        ev, r"^(?P<lvl>\w+) \[(?P<tstr>[^\]]+)\] uid=(?P<uid>\d+)"
    )
    out = parsers.time_parser(out, "attributes[tstr]", "%Y-%m-%d %H:%M:%S")
    out = parsers.severity_parser(out, "attributes[lvl]")
    return out.select(
        "event_id",
        F.element_at("attributes", "uid").cast("long").alias("uid"),
        F.unix_seconds(F.col("timestamp").cast("timestamp")).alias("ts_s"),
        "severity_number",
        "severity_text",
    )


SQL_LOGSTRANSFORM_CHAIN = """
SELECT event_id, user_id AS uid, epoch(date_trunc('second', ts))::BIGINT AS ts_s,
       CASE WHEN event_type = 'error' THEN 17 ELSE 9 END AS severity_number,
       CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END AS severity_text
FROM events
"""


def q_attributes_extract_convert(spark, sf_dir):
    """attraction extract (regex -> new attrs) + convert actions
    (/root/reference/internal/coreinternal/attraction/attraction.go:176-300)."""
    from ..operators.processors import AttrAction, attributes_processor

    ev = _events(spark, sf_dir).withColumn(
        "attributes",
        F.create_map(
            F.lit("raw"),
            F.format_string("code=%d/unit=u%d", F.col("user_id") % 100, F.col("event_id") % 7),
        ),
    )
    out = attributes_processor(
        ev,
        [
            AttrAction("extract", "raw", pattern=r"code=(?P<code>\d+)/unit=(?P<unit>\w+)"),
            AttrAction("convert", "code", converted_type="long"),
        ],
    )
    return out.select(
        "event_id",
        F.element_at("attributes", "code").alias("code"),
        F.element_at("attributes", "unit").alias("unit"),
    )


SQL_ATTRIBUTES_EXTRACT_CONVERT = """
SELECT event_id, (user_id % 100)::VARCHAR AS code,
       'u' || (event_id % 7)::VARCHAR AS unit
FROM events
"""


# the text_* and multimodal_* operators have their oracle rows in
# text_stats_suite / multimodal_suite (queries_suites.py)
REGISTRY_DATAPREP: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dataset_split": (q_dataset_split, SQL_DATASET_SPLIT),
    "logstransform_chain": (q_logstransform_chain, SQL_LOGSTRANSFORM_CHAIN),
    "attributes_extract_convert": (q_attributes_extract_convert, SQL_ATTRIBUTES_EXTRACT_CONVERT),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_dedup_minhash, SQL_DEDUP_MINHASH),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_sign_lsh": (q_ann_sign_lsh, SQL_ANN_SIGN_LSH),
}
