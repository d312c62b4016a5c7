"""Byte-pair-encoding tokenizer: distributed training + vectorized apply.

The `tokens` payload axis end-to-end: the rest of the repo consumes
pre-tokenized `(doc_id, tokens array<int>)` tables; this module produces
them from raw text with a BPE tokenizer (Sennrich et al. 2016, the
standard LLM pretraining tokenizer family) built Spark-first:

- train_bpe: ONE corpus pass builds the DISTINCT word-frequency table
  (tiny vs the corpus; the classic BPE training optimization), a
  deterministic top-K of it is collected, and the merge loop runs
  in-memory with incremental pair-count maintenance (a lazy max-heap —
  the standard fast-BPE trainer structure). Total Spark jobs: O(1)
  regardless of num_merges (a 50k-merge production vocab is NOT 50k
  jobs). When the corpus's distinct-word count fits the cap the merges
  are EXACTLY those of the round-per-merge distributed trainer
  (train_bpe_distributed, kept for parity testing and for corpora whose
  distinct table genuinely exceeds driver memory).
- bpe_encode: applies the learned merge ranks per word in an
  Arrow-batched pandas UDF with a per-batch word cache (natural-language
  batches repeat most words, so amortized cost per row is near the
  dictionary-lookup floor).
- build_vocab / encode_ids: deterministic id assignment (sorted alphabet
  first, then merge products in merge order — the GPT-2 convention), so
  two runs over differently-partitioned corpora emit identical ids.

Scale shape: train touches the word-frequency table only (one corpus
shuffle total); encode is embarrassingly parallel with zero shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the single corpus-wide shuffle in
    BPE training, map-side combined."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _chars(word: Column) -> Column:
    # sequence(1, 0) DESCENDS to [1, 0] for the empty word, fabricating
    # two '' pieces — one blank doc would then inject '' into the vocab
    # at id 0 and silently shift every other token id
    n = F.length(word)
    idxs = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idxs, lambda i: F.substring(word, i, 1))


def _merge_pair_udf(a: str, b: str):
    @pandas_udf("array<string>")
    def _merge(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            def one(toks):
                out = []
                i = 0
                n = len(toks)
                while i < n:
                    if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                return out

            yield s.map(one)

    return _merge


def _apply_merge(toks: list[str], a: str, b: str) -> list[str]:
    """Left-to-right non-overlapping merge of (a, b) -> a+b in one word —
    the same scan _merge_pair_udf runs distributed."""
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def train_bpe_words(
    words: list[tuple[str, int]], num_merges: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """In-memory BPE merge loop over a (word, freq) table: incremental
    pair-count maintenance with a lazy max-heap (stale entries are
    discarded on pop; every count change pushes a fresh entry), touching
    only the words that contain the merged pair each round. Selection
    order is count desc then (a, b) lexicographic asc — bit-identical to
    train_bpe_distributed's orderBy, including overlapping-occurrence
    pair counting ('aaa' holds two (a,a) pairs) and the min_freq stop."""
    import heapq
    from collections import Counter

    toks = [list(w) for w, _ in words]
    freqs = [f for _, f in words]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (t, f) in enumerate(zip(toks, freqs)):
        for p in zip(t, t[1:]):
            counts[p] = counts.get(p, 0) + f
            where.setdefault(p, set()).add(wi)
    heap = [(-c, a, b) for (a, b), c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        while heap:
            nc, a, b = heap[0]
            if counts.get((a, b), 0) == -nc:
                best = (a, b, -nc)
                break
            heapq.heappop(heap)  # stale: count changed since this push
        if best is None or best[2] < min_freq:
            break
        a, b, _ = best
        heapq.heappop(heap)
        merges.append((a, b))
        for wi in sorted(where.get((a, b), ())):
            f, t = freqs[wi], toks[wi]
            new_t = _apply_merge(t, a, b)
            old_pairs = list(zip(t, t[1:]))
            new_pairs = list(zip(new_t, new_t[1:]))
            delta = Counter(new_pairs)
            delta.subtract(old_pairs)
            for p, d in delta.items():
                if d == 0:
                    continue
                c = counts.get(p, 0) + d * f
                if c <= 0:
                    counts.pop(p, None)
                else:
                    counts[p] = c
                    heapq.heappush(heap, (-c, p[0], p[1]))
            olds, news = set(old_pairs), set(new_pairs)
            for p in olds - news:
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
            for p in news - olds:
                where.setdefault(p, set()).add(wi)
            toks[wi] = new_t
        where.pop((a, b), None)
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    min_freq: int = 2,
    max_distinct_words: int = 2_000_000,
) -> list[tuple[str, str]]:
    """Learn `num_merges` merges Spark-first with an O(1) job count: one
    corpus shuffle builds the distinct (word, freq) table, a deterministic
    top-K of it (freq desc, word asc — a TakeOrdered, no full sort) is
    collected, and the greedy merge loop runs in-memory
    (train_bpe_words). When the corpus has <= max_distinct_words distinct
    words the fit is over the FULL table and the merges are exactly the
    sequential trainer's; above the cap it is a bounded deterministic
    head-of-the-distribution fit (the standard sampled-corpus practice —
    BPE merges come from the zipfian head, and the tail below the cap is
    dominated by words whose total mass cannot alter top pair ranks at
    vocab-scale merge counts)."""
    rows = (
        word_frequencies(df, text_col)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_distinct_words)
        .collect()
    )
    return train_bpe_words(
        [(r["word"], r["freq"]) for r in rows], num_merges, min_freq
    )


def train_bpe_distributed(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Round-per-merge distributed trainer (one weighted pair aggregation
    + one Arrow-batched merge apply per round over the word-frequency
    table): the fallback when even the DISTINCT word table exceeds driver
    memory, and the parity oracle for train_bpe. num_merges Spark jobs —
    use train_bpe unless the distinct table genuinely cannot be collected.
    Ties broken lexicographically so training is partitioning-independent.
    Stops early when no pair clears min_freq."""
    cur = (
        word_frequencies(df, text_col)
        .select("freq", _chars(F.col("word")).alias("toks"))
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = cur.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.col("toks"),
                    F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(1))),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        ).filter(F.col("p.b").isNotNull())
        best = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p.a").asc(), F.col("p.b").asc())
            .first()
        )
        if best is None or best["n"] < min_freq:
            break
        a, b = best["p"]["a"], best["p"]["b"]
        merges.append((a, b))
        # checkpoint each round: it materializes the new round AND
        # truncates lineage, so the logical plan stays O(1) per round — a
        # chain of merge-UDF projections would grow the per-round AQE
        # explainString without bound and OOM the driver past ~20 rounds
        cur = cur.withColumn("toks", _merge_pair_udf(a, b)(F.col("toks"))).localCheckpoint()
    return merges


def bpe_encode(
    text: Column, merges: list[tuple[str, str]]
) -> Column:
    """array<string> of BPE pieces for a text column (space-separated
    words, merges applied per word by learned rank). Per-batch word cache
    keeps the per-row cost near a dict lookup for natural text."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        toks = list(word)
        while len(toks) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(toks) - 1):
                r = ranks.get((toks[i], toks[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            toks[best_i : best_i + 2] = [toks[best_i] + toks[best_i + 1]]
        return toks

    @pandas_udf("array<string>")
    def _enc(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # the cache lives for the TASK (all Arrow batches of a partition),
        # so it must be bounded: a high-cardinality partition (urls, ids)
        # would otherwise grow the Python worker without limit. Cleared
        # wholesale at the cap — natural-language word frequency is
        # zipfian, so the hot head repopulates within one batch.
        cache: dict[str, list[str]] = {}
        CACHE_CAP = 500_000

        def one(t):
            if t is None:
                return None
            out: list[str] = []
            for w in t.split(" "):
                if not w:
                    continue
                hit = cache.get(w)
                if hit is None:
                    if len(cache) >= CACHE_CAP:
                        cache.clear()
                    hit = cache[w] = encode_word(w)
                out.extend(hit)
            return out

        for s in batches:
            yield s.map(one)

    return _enc(text)


def build_vocab(
    df: DataFrame, text_col: str, merges: list[tuple[str, str]]
) -> dict[str, int]:
    """Deterministic piece -> id map: the corpus alphabet sorted, then
    merge products in merge order (GPT-2 convention). One small distinct
    aggregation for the alphabet."""
    alphabet = sorted(
        r["c"]
        for r in df.select(
            F.explode(_chars(F.regexp_replace(F.col(text_col), " ", ""))).alias("c")
        )
        .distinct()
        .collect()
    )
    vocab = {c: i for i, c in enumerate(alphabet)}
    for a, b in merges:
        piece = a + b
        if piece not in vocab:
            vocab[piece] = len(vocab)
    return vocab


def encode_ids(
    text: Column, merges: list[tuple[str, str]], vocab: dict[str, int]
) -> Column:
    """array<int> token ids (unknown pieces -> NULL element, surfaced
    rather than silently dropped)."""
    pieces = bpe_encode(text, merges)
    m = F.map_from_arrays(
        F.array(*[F.lit(k) for k in vocab]),
        F.array(*[F.lit(v) for v in vocab.values()]),
    )
    return F.transform(pieces, lambda p: F.element_at(m, p))


def decode_ids(ids: Column, vocab: dict[str, int]) -> Column:
    """array<string> pieces for an id-array column — the inverse of
    encode_ids (unknown ids -> NULL element, surfaced not dropped).
    Word boundaries are not part of the piece stream (standard BPE
    without a boundary marker), so joining the pieces reconstructs the
    space-stripped text: concat_ws('', decode_ids(encode_ids(t))) ==
    replace(t, ' ', ''). Pure column op: one literal id->piece map."""
    m = F.map_from_arrays(
        F.array(*[F.lit(v) for v in vocab.values()]),
        F.array(*[F.lit(k) for k in vocab]),
    )
    return F.transform(ids, lambda i: F.element_at(m, i))
