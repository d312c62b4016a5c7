"""Vectorized multi-format payload parsing as a pyarrow-native UDF.

The north rule mandates the parse step as vectorized pandas/Arrow UDFs
over the payload column (BASELINE.json input_hint). Python workers are
separate PROCESSES, so the parse scales past the single-JVM contention
ceiling that caps the equivalent from_json/regexp_extract expression chain
(~2x throughput at 32 cores; see BASELINE.md bench notes).

Regexes compile once per worker process (module import), batches arrive
as Arrow arrays — never per-row Python UDFs. The per-row functions
(_parse_one, _json_one, _kv_one) are the reference model the tests hold
the Arrow batch path and the JVM expressions to.
"""

from __future__ import annotations

import json as _json
import re

from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

# the four payload shapes of the synthetic corpus (FIXTURES.md §2):
# fmt 0 apache common-log, 1 JSON, 2 key=value, 3 containerd.
#
# The *_PAT strings are canonical and carry RE2 semantics: ASCII
# \w/\S/\d classes and `$` = absolute end of text. The three regex
# engines that execute them disagree on exactly two points, so the
# derived variants pin both back to RE2:
#   - python `re`: \w/\S/\d are UNICODE by default ('é' is a word char)
#     and `$` also matches before one trailing newline -> compile with
#     re.ASCII and `$` rewritten to \Z (absolute end);
#   - Java regex (JVM rlike/regexp_extract): classes are ASCII already,
#     but `$` is newline-lenient like python -> java_pattern() rewrites
#     `$` to \z (absolute end);
#   - RE2 (Arrow match_substring_regex/extract_regex): canonical as-is.
# Without this, 'é=0' auto-detects as key=value in the python model but
# not in the Arrow/JVM impls, and a trailing-newline body matches the
# anchored formats in python/Java but not RE2 (hypothesis fuzz finding).
APACHE_PAT = (
    r"^(?P<client_ip>\S+) (?P<ident>\S+) (?P<user>\S+) \[(?P<ts>[^\]]+)\] "
    r'"(?P<method>\S+) (?P<path>\S+) (?P<proto>[^"]+)" (?P<status>\d+) (?P<size>\d+)$'
)
CONTAINERD_PAT = r"^(?P<time>\S+) (?P<stream>stdout|stderr) (?P<logtag>\S+) (?P<log>.*)$"
# auto-detect helpers shared by both dispatches; the apache detect is the
# same cheap prefix the JVM plan uses (the full apache pattern can't run
# as a JVM rlike — Java rejects '_' in named groups — so BOTH impls
# prefix-detect and let the extract return NULL on a near-miss)
KV_DETECT_PAT = r"^\w+=\S+( \w+=\S+)*$"
APACHE_DETECT_PAT = r"^\S+ \S+ \S+ \["


def _split_trailing_anchor(pat: str) -> tuple[str, bool]:
    """Split a canonical pattern into (body, had_trailing_anchor).

    Only a single UNESCAPED trailing `$` is treated as the end anchor to
    rewrite; any other unescaped `$` (mid-pattern, or inside a character
    class) would previously get a blanket str.replace and silently change
    meaning — reject those loudly so the next pattern added to this
    canonical set can't fall into the trap."""

    def _unescaped(i: int) -> bool:
        n = 0
        while i - 1 - n >= 0 and pat[i - 1 - n] == "\\":
            n += 1
        return n % 2 == 0

    positions = [i for i, ch in enumerate(pat) if ch == "$" and _unescaped(i)]
    if positions == [len(pat) - 1]:
        return pat[:-1], True
    if positions:
        raise ValueError(
            f"canonical pattern has a non-trailing unescaped '$' (cannot "
            f"safely rewrite the end anchor): {pat!r}"
        )
    return pat, False


def _py_rx(pat: str) -> "re.Pattern[str]":
    """Compile a canonical pattern for python `re` with RE2 semantics."""
    body, anchored = _split_trailing_anchor(pat)
    return re.compile(body + (r"\Z" if anchored else ""), re.ASCII)


def java_pattern(pat: str) -> str:
    """Rewrite a canonical pattern for Java regex with RE2 semantics."""
    body, anchored = _split_trailing_anchor(pat)
    return body + (r"\z" if anchored else "")


APACHE_RX = _py_rx(APACHE_PAT)
CONTAINERD_RX = _py_rx(CONTAINERD_PAT)
_KV_DETECT_RX = _py_rx(KV_DETECT_PAT)
_APACHE_DETECT_RX = _py_rx(APACHE_DETECT_PAT)


def _parse_one(body: str | None, fmt: int | None) -> dict | None:
    """Per-row reference model of the parse contract (tests compare the
    Arrow and JVM impls against this). MALFORMED rows yield NULL, exactly
    like the JVM expressions (from_json / extract_patterns), because the
    parser on_error semantics key off NULL-vs-present:
      - invalid or non-object JSON -> None (from_json map returns NULL)
      - kv pairs without '=' keep the key with a None value (str_to_map)
      - regex formats that do not match -> None (extract_patterns); on a
        match, empty-string groups are dropped (reference omits absent
        groups; containerd's `log` can match empty)
    fmt NULL auto-detects; unknown numeric tags parse as containerd."""
    if body is None:
        return None
    if fmt == 1 or (fmt is None and body.startswith("{")):
        return _json_one(body)
    if fmt == 2 or (fmt is None and _KV_DETECT_RX.match(body)):
        return _kv_one(body)
    if fmt == 0 or (fmt is None and _APACHE_DETECT_RX.match(body)):
        rx = APACHE_RX
    else:
        rx = CONTAINERD_RX
    m = rx.match(body)
    return {k: v for k, v in m.groupdict().items() if v} if m else None


def _json_one(b: str) -> dict | None:
    """Strict whole-value JSON -> dict: None on invalid OR non-object
    JSON ('null', 'true', '42', '[1,2]' — .items() on those would
    otherwise raise AttributeError and kill the whole task); JSON null
    values stay None; other non-strings stringify compactly.

    Known envelope caveat vs the JVM impls: Jackson's from_json is a
    PREFIX parse — '{}x' -> {} there, but a strict failure (None) here,
    matching the Go reference's json.Unmarshal (the container-chain
    fuzzer caught this on '{}:'). The canonical contract is STRICT; the
    jvm/hybrid fused-parse impls diverge only on trailing-garbage JSON
    bodies, which real NDJSON/docker inputs never contain (one value per
    line). Surfaces with a reference-parity test (container_parser) use
    json_map_strict below, never from_json."""
    try:
        d = _json.loads(b)
    except ValueError:
        return None
    if not isinstance(d, dict):
        return None
    return {
        k: (
            v
            if isinstance(v, str) or v is None
            else _json.dumps(v, separators=(",", ":"))
        )
        for k, v in d.items()
    }


def _kv_one(b: str) -> dict:
    """Mirror of str_to_map(trim(body), ' ', '='): a pair without '='
    keeps the key with a NULL value (it is NOT silently dropped).
    Spark's trim strips SPACES only (not \\n/\\t), so the model strips
    exactly ' ' — a python .strip() here would silently diverge from the
    JVM impl on whitespace-padded bodies (cross-impl probe finding)."""
    out: dict[str, str | None] = {}
    for p in b.strip(" ").split(" "):
        if "=" in p:
            k, v = p.split("=", 1)
            out[k] = v
        else:
            out[p] = None
    return out


def _extract_map_arrow(sub: "pa.Array", pattern: str) -> "pa.Array":
    """String subset -> MapArray in ONE RE2 pass + columnar assembly —
    zero per-row Python. extract_regex yields a StructArray; the map
    children are built by a vectorized transpose (concat fields + one
    take with row-major indices), empty/absent groups are dropped with a
    boolean filter, and per-row offsets come from a numpy cumsum. Null
    offsets mark non-matching rows as NULL maps (parser on_error
    semantics downstream). The body bytes are touched exactly once (the
    regex); everything after operates on the extracted field buffers."""
    import pyarrow.compute as pc

    hits = pc.extract_regex(sub, pattern=pattern)
    names = [f.name for f in hits.type]
    valid_np = pc.is_valid(hits).to_numpy(zero_copy_only=False)
    cols = [hits.field(i) for i in range(len(names))]
    return struct_cols_to_map(cols, names, valid_np)


def struct_cols_to_map(cols, names, valid_np) -> "pa.Array":
    """(k string columns, k key names, row-valid mask) -> MapArray with
    empty/absent values dropped and invalid rows as NULL maps. The
    columnar tail shared by the multiformat regex parse and the arrow
    grok impl."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(valid_np)
    k = len(names)
    keep = (
        np.stack(
            [
                pc.fill_null(pc.not_equal(c, ""), False).to_numpy(
                    zero_copy_only=False
                )
                for c in cols
            ]
        )
        & valid_np
    )  # (k, n); nulls, empty-string groups, and non-matching rows all drop
    concat = pa.concat_arrays([c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in cols])
    idx = (np.arange(n)[:, None] + np.arange(k)[None, :] * n).ravel()
    inter_vals = pc.take(concat, pa.array(idx, type=pa.int64()))
    inter_keys = pc.take(
        pa.array(names), pa.array(np.tile(np.arange(k), n), type=pa.int64())
    )
    mask = pa.array(keep.T.ravel())
    items = pc.filter(inter_vals, mask)
    keys = pc.filter(inter_keys, mask)
    row_lens = keep.sum(axis=0)
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(row_lens, out=offs[1:])
    off_arr = pa.array(
        offs, type=pa.int32(), mask=np.concatenate([~valid_np, [False]])
    )
    return pa.MapArray.from_arrays(off_arr, keys, items)


def _kv_subset_arrow(sub: "pa.Array") -> "pa.Array":
    """key=value subset -> MapArray with zero per-row Python, mirroring
    _kv_one / str_to_map(trim(body), ' ', '='): trim, split on single
    spaces (empty tokens survive as '' keys), each token splits on the
    FIRST '=' (no '=' -> NULL value), duplicate keys last-wins.

    All string work is Arrow C++ (two split_pattern passes); the
    last-wins dedup is a numpy lexsort over dictionary-encoded keys —
    O(p log p) in the number of pairs, no Python loop."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(sub)
    # trim SPACES only: Spark's trim() (the documented mirror) does not
    # strip \n/\t, and neither must this path
    pairs = pc.split_pattern(pc.utf8_trim(sub, " "), " ")
    row_lens = pc.list_value_length(pairs).to_numpy(zero_copy_only=False)
    row_ids = np.repeat(np.arange(n, dtype=np.int64), row_lens)
    flat = pc.list_flatten(pairs)
    kv = pc.split_pattern(flat, "=", max_splits=1)
    klens = pc.list_value_length(kv).to_numpy(zero_copy_only=False)
    child = pc.list_flatten(kv)
    starts = np.zeros(len(klens), dtype=np.int64)
    np.cumsum(klens[:-1], out=starts[1:])
    keys = pc.take(child, pa.array(starts))
    # value = second split element where present, NULL for naked keys
    val_idx = pa.array(starts + 1, mask=(klens < 2))
    vals = pc.take(child, val_idx)
    # last-wins dedup: sort pairs by (row, key-code); keep an occurrence
    # only if the NEXT sorted entry is a different (row, key)
    enc = pc.dictionary_encode(keys)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    codes = enc.indices.to_numpy(zero_copy_only=False)
    order = np.lexsort((np.arange(len(codes)), codes, row_ids))
    rs, cs = row_ids[order], codes[order]
    keep_sorted = np.ones(len(order), dtype=bool)
    if len(order) > 1:
        keep_sorted[:-1] = (rs[1:] != rs[:-1]) | (cs[1:] != cs[:-1])
    keep = np.zeros(len(order), dtype=bool)
    keep[order] = keep_sorted
    mask = pa.array(keep)
    out_lens = np.bincount(row_ids[keep], minlength=n) if len(keep) else np.zeros(n, dtype=np.int64)
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(out_lens, out=offs[1:])
    return pa.MapArray.from_arrays(
        pa.array(offs, type=pa.int32()), pc.filter(keys, mask), pc.filter(vals, mask)
    )


# rows the NDJSON fast path must NOT see, in one RE2 alternation:
#   [\n\r]        raw newlines break the line framing (and are legal JSON
#                 inter-token whitespace, so such a row can still parse)
#   null          a present-key-with-JSON-null entry must stay in the map
#                 (read_json cannot distinguish `"k":null` from absent k)
#   NaN|Infinity  python json accepts them, Arrow rejects the whole block
#   [0-9]{16,}    ints beyond ~int64 silently infer as double (precision
#                 loss vs python's arbitrary-precision int -> str)
_JSON_SLOW_RX = r"[\n\r]|null|NaN|Infinity|[0-9]{16,}"


def _json_fast_table(fsub: "pa.Array") -> "pa.Array | None":
    """Pre-screened JSON object rows -> MapArray via ONE C++ NDJSON parse
    (pyarrow.json.read_json over the subset's own value buffer — the body
    bytes never materialize as Python objects) + the same columnar
    transpose _extract_map_arrow uses. Returns None when the batch is
    outside the parity-safe envelope (mixed value types, duplicate keys,
    timestamp/nested inference) — the caller falls back to per-row
    json.loads for the subset. Absent keys surface as null cells and are
    dropped per row; int64/bool cells stringify exactly like json.dumps;
    float cells re-serialize through json.dumps (Arrow's shortest-repr
    cast disagrees with python repr on exponent formatting)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj

    n = len(fsub)
    joined = pc.binary_join_element_wise(fsub, "\n")
    if isinstance(joined, pa.ChunkedArray):
        joined = joined.combine_chunks()
    # StringArray buffers: [validity, int32 offsets, utf8 data]; the
    # value window accounts for a nonzero array offset after takes/slices
    offs_np = np.frombuffer(
        joined.buffers()[1], dtype=np.int32, count=joined.offset + n + 1
    )[joined.offset :]
    data = joined.buffers()[2].slice(offs_np[0], int(offs_np[-1]) - int(offs_np[0]))
    ropts = pj.ReadOptions(
        use_threads=False,
        block_size=int(min(max(data.size + 1, 1 << 16), (1 << 31) - 1)),
    )
    try:
        tbl = pj.read_json(
            pa.BufferReader(data),
            read_options=ropts,
            parse_options=pj.ParseOptions(newlines_in_values=False),
        )
        # timestamp/date-SHAPED strings get type-inferred; the original
        # token is a JSON string and must stay one (a timestamp->string
        # cast reformats it). Re-parse with exactly those columns pinned
        # to string — the reader then returns the raw token verbatim.
        pinned = [
            f.name
            for f in tbl.schema
            if pa.types.is_temporal(f.type)
            or (pa.types.is_dictionary(f.type) and pa.types.is_temporal(f.type.value_type))
        ]
        if pinned:
            tbl = pj.read_json(
                pa.BufferReader(data),
                read_options=ropts,
                parse_options=pj.ParseOptions(
                    newlines_in_values=False,
                    explicit_schema=pa.schema(
                        [pa.field(c, pa.string()) for c in pinned]
                    ),
                    unexpected_field_behavior="infer",
                ),
            )
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    if tbl.num_rows != n:
        return None
    names: list[str] = []
    cols: list[pa.Array] = []
    for name, col in zip(tbl.column_names, tbl.columns):
        c = col.combine_chunks()
        t = c.type
        if pa.types.is_string(t):
            s = c
        elif pa.types.is_large_string(t):
            s = c.cast(pa.string())
        elif pa.types.is_integer(t) or pa.types.is_boolean(t):
            s = pc.cast(c, pa.string())
        elif pa.types.is_floating(t):
            # a double column holding any INTEGRAL value is parity-
            # ambiguous: Arrow silently promotes mixed int64/double
            # inference, so a `1` token and a `1.0` token both arrive as
            # double 1.0 — but json.loads stringifies them "1" vs "1.0".
            # The raw token is unrecoverable here; punt the batch to the
            # per-row path (fractional-only columns stay fast).
            vals = c.drop_null()
            if len(vals) and pc.any(pc.equal(pc.floor(vals), vals)).as_py():
                return None
            s = pa.array(
                [None if v is None else _json.dumps(v) for v in c.to_pylist()],
                type=pa.string(),
            )
        elif pa.types.is_null(t):
            s = pa.nulls(n, type=pa.string())
        else:  # timestamp/date/struct/list inference: parity-unsafe
            return None
        names.append(name)
        cols.append(s)
    k = len(cols)
    if k == 0:  # every row was '{}'
        return pa.MapArray.from_arrays(
            pa.array(np.zeros(n + 1, dtype=np.int32), type=pa.int32()),
            pa.array([], type=pa.string()),
            pa.array([], type=pa.string()),
        )
    keep = np.stack(
        [pc.is_valid(c).to_numpy(zero_copy_only=False) for c in cols]
    )  # (k, n): only absent keys drop — JSON keeps ''-valued entries
    concat = pa.concat_arrays(cols)
    idx = (np.arange(n)[:, None] + np.arange(k)[None, :] * n).ravel()
    inter_vals = pc.take(concat, pa.array(idx, type=pa.int64()))
    inter_keys = pc.take(
        pa.array(names), pa.array(np.tile(np.arange(k), n), type=pa.int64())
    )
    mask = pa.array(keep.T.ravel())
    row_lens = keep.sum(axis=0)
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(row_lens, out=offs[1:])
    return pa.MapArray.from_arrays(
        pa.array(offs, type=pa.int32()),
        pc.filter(inter_keys, mask),
        pc.filter(inter_vals, mask),
    )


def _json_subset_arrow(sub: "pa.Array") -> "pa.Array":
    """JSON subset -> MapArray. Rows inside the parity-safe envelope
    (plain `{...}` objects, no literal null/NaN/huge-int, no raw
    newlines) go through one C++ NDJSON parse; the rest — plus the whole
    batch when read_json detects duplicate keys / mixed types / nested
    values — fall back to per-row json.loads, preserving _json_one
    semantics bit-for-bit."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    map_type = pa.map_(pa.string(), pa.string())
    n = len(sub)
    slow = pc.fill_null(
        pc.match_substring_regex(sub, _JSON_SLOW_RX), True
    ).to_numpy(zero_copy_only=False).copy()
    slow |= ~pc.fill_null(pc.starts_with(sub, "{"), False).to_numpy(
        zero_copy_only=False
    )
    fast_ix = np.nonzero(~slow)[0]
    slow_ix = np.nonzero(slow)[0]
    parts: list[pa.Array] = []
    idxs: list[np.ndarray] = []
    if len(fast_ix):
        fsub = pc.take(sub, pa.array(fast_ix, type=pa.int64()))
        arr = _json_fast_table(fsub)
        if arr is None:
            fast_ix = np.array([], dtype=np.int64)
            slow_ix = np.arange(n)
        else:
            parts.append(arr.cast(map_type))
            idxs.append(fast_ix)
    if len(slow_ix):
        ssub = pc.take(sub, pa.array(slow_ix, type=pa.int64()))
        parts.append(
            pa.array(
                [None if x is None else _json_one(x) for x in ssub.to_pylist()],
                type=map_type,
            )
        )
        idxs.append(slow_ix)
    if len(parts) == 1:
        return parts[0]
    perm = np.concatenate(idxs)
    inv = np.empty(n, dtype=np.int64)
    inv[perm] = np.arange(n)
    merged = pa.concat_arrays(
        [p.combine_chunks() if isinstance(p, pa.ChunkedArray) else p for p in parts]
    )
    return pc.take(merged, pa.array(inv, type=pa.int64()))


def _parse_multiformat_arrow_batch(body: "pa.Array", fmt: "pa.Array") -> "pa.Array":
    """One Arrow batch of (body, fmt) -> MapArray. Format dispatch,
    detection regexes, apache/containerd extraction, and the output map
    assembly all run in Arrow C++; only JSON (json.loads is dict-shaped
    by nature) and key=value (last-wins duplicate-key semantics match
    str_to_map, which a raw MapArray would not honor) remain per-row —
    over their subsets only. Subset results merge back into row order
    with one inverse-permutation take."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    map_type = pa.map_(pa.string(), pa.string())
    if isinstance(body, pa.ChunkedArray):
        body = body.combine_chunks()
    if isinstance(fmt, pa.ChunkedArray):
        fmt = fmt.combine_chunks()
    n = len(body)
    if n == 0:
        return pa.array([], type=map_type)

    def np_mask(arr) -> "np.ndarray":
        return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)

    bn = np_mask(pc.is_valid(body))
    is0 = np_mask(pc.equal(fmt, 0)) & bn
    is1 = np_mask(pc.equal(fmt, 1)) & bn
    is2 = np_mask(pc.equal(fmt, 2)) & bn
    auto = np_mask(pc.is_null(fmt)) & bn
    if auto.any():
        j = np_mask(pc.starts_with(body, "{")) & auto
        rem = auto & ~j
        kv = np_mask(pc.match_substring_regex(body, KV_DETECT_PAT)) & rem
        ap = (
            np_mask(pc.match_substring_regex(body, APACHE_DETECT_PAT))
            & rem
            & ~kv
        )
        is1 |= j
        is2 |= kv
        is0 |= ap
    is3 = bn & ~(is0 | is1 | is2)

    parts: list[pa.Array] = []
    idxs: list[np.ndarray] = []

    def subset(mask: "np.ndarray") -> "pa.Array":
        ix = np.nonzero(mask)[0]
        idxs.append(ix)
        return pc.take(body, pa.array(ix, type=pa.int64()))

    if is1.any():
        parts.append(_json_subset_arrow(subset(is1)).cast(map_type))
    if is2.any():
        parts.append(_kv_subset_arrow(subset(is2)).cast(map_type))
    if is0.any():
        parts.append(_extract_map_arrow(subset(is0), APACHE_PAT))
    if is3.any():
        parts.append(_extract_map_arrow(subset(is3), CONTAINERD_PAT))
    if not bn.all():
        ix = np.nonzero(~bn)[0]
        idxs.append(ix)
        parts.append(pa.nulls(len(ix), type=map_type))

    perm = np.concatenate(idxs) if idxs else np.array([], dtype=np.int64)
    inv = np.empty(n, dtype=np.int64)
    inv[perm] = np.arange(n)
    merged = pa.concat_arrays([p.combine_chunks() if isinstance(p, pa.ChunkedArray) else p for p in parts])
    return pc.take(merged, pa.array(inv, type=pa.int64()))


@arrow_udf(T.MapType(T.StringType(), T.StringType()))
def parse_multiformat_arrow(body, fmt):
    return _parse_multiformat_arrow_batch(body, fmt)


@arrow_udf(T.MapType(T.StringType(), T.StringType()))
def json_map_strict(body):
    # STRICT whole-value JSON -> map<string,string> (Go json.Unmarshal
    # semantics: trailing garbage after a complete value is a parse
    # FAILURE). Jackson's from_json silently accepts '{}x' as {} (prefix
    # parse), so surfaces that need reference bit-parity (container docker
    # lines, stanza/operator/parser/container) must use this instead.
    # Callers mask non-JSON rows to NULL so only the JSON subset ships
    # through Arrow; NULLs pass through untouched.
    return _json_subset_arrow(body)


# Each parse UDF runs once per row: a deterministic UDF "may even be invoked
# more times than it is present in the query" (pyspark udf docs), which is
# what happens when a filter on the parsed map is pushed below the parse.
parse_multiformat_arrow = parse_multiformat_arrow.asNondeterministic()
json_map_strict = json_map_strict.asNondeterministic()
