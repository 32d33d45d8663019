"""The encode job: chunked, codec-auto-selected, checkpointed, resumable.

Spark shape (SURVEY.md §3.2): plan DataFrame → broadcast overrides → encode
job (applyInArrow per chunk) → write encoded table + lineage checkpoint.
This is the engine's analog of the reference's streaming rewrite
(`fix::rewrite`, src/parquet-linter/src/fix.rs:213-234) — decode→re-encode as
one Arrow-batched pass — except our writer properties are *per column-chunk*
decisions from select.py instead of file-level WriterProperties.

Resumability (north_rule): chunk ids are pure functions of the data
(chunking.py), the lineage table records finished chunks, and `run(...,
resume=True)` anti-joins them away before encoding. A mid-run kill therefore
re-encodes only unfinished chunks.
"""

from __future__ import annotations

import dataclasses
import re
import struct
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .chunking import MAX_CHUNK_ROWS, MAX_CHUNK_VALUES, assign_chunks, plan_buckets
from .codecs import codec_of, decode_column_arrow, encode_int_column
from .codecs.bitio import sorted_factorize
from .codecs.bloom import build_bloom, hash_strings
from .codecs.container import (
    DT_BOOL,
    DT_DECIMAL128,
    DT_FIXED_BINARY,
    DT_FLOAT32,
    DT_FLOAT64,
    DT_INT32,
    DTYPE_SPARK,
    FLAG_BLOCKED,
    ZSTD_LEVEL,
    _TRIAL_BYTES,
    _outer_compress,
    decimal128_minmax,
    dtype_of,
    dtype_of_arrow,
    encode_any_column,
    encode_list_column,
    int_view_of,
    is_string_kind,
    is_wide,
    spark_ddl_of_arrow,
    wrap,
)
from .codecs.strcodecs import STR_CODEC_IDS, enc_str_dict, enc_str_plain, enc_str_prefix
from .plan import EncodeConfig
from .select import Decision, select_codec, select_float_codec
from .stats import compute_chunk_stats

# One encoded row per CHUNK (round 2 layout): per-column payloads are
# separate binary columns and per-column metrics live in a struct array.
# Why: (a) full decode becomes a shuffle-free `mapInArrow` over the scan —
# the round-1 tall layout (4 rows per chunk) forced a groupBy(chunk_id)
# shuffle of the ENTIRE compressed corpus just to reassemble chunks (~0.43×
# the raw bytes at 100 TB); (b) Spark/parquet column pruning now serves the
# reference's per-column-chunk byte-range reads natively (S3 analog): a
# metrics query never touches payload bytes, a tokens-only scan never reads
# the doc_id payload. A chunk row IS the row-group analog; the payload
# columns are its column chunks.
COLMETA_FIELDS = (
    "column string, codec string, outer string, dtype string, n_values long, "
    "null_count long, encoded_bytes long, raw_bytes long, rule string, "
    "min_val long, max_val long, distinct_est long, elapsed_ms double, "
    "outer_trial_ratio double, block_rows long, bloom binary"
)

_COLMETA_ARROW = pa.struct(
    [
        ("column", pa.string()),
        ("codec", pa.string()),
        ("outer", pa.string()),
        ("dtype", pa.string()),
        ("n_values", pa.int64()),
        ("null_count", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("rule", pa.string()),
        ("min_val", pa.int64()),
        ("max_val", pa.int64()),
        ("distinct_est", pa.int64()),
        ("elapsed_ms", pa.float64()),
        # evidence for the compression tier of lint_encoded: the bounded
        # zstd tail-sample trial ratio over the STORED payload, recorded
        # only when the stored outer is 'none' (0.0 otherwise / too small).
        # Lets the R2/R3 analogs fire from metrics alone — no payload read.
        ("outer_trial_ratio", pa.float64()),
        # rows per intra-chunk block when the frame is FLAG_BLOCKED (R10
        # small-pages), 0 for flat frames: lets plan_from_encoded infer the
        # random-access layout from the payload-pruned metadata scan alone
        ("block_rows", pa.int64()),
        # per-column membership filter (reference bloom directives are
        # per-column, prescription.rs:113-130 / fix.rs:168-182); the tokens
        # filter stays in the top-level `bloom` column (its historical slot)
        ("bloom", pa.binary()),
    ]
)

PAYLOAD_COLUMNS = ("tokens", "n_tok", "doc_id", "source")

# columns added by chunk assignment, never encoded
_META_INPUT_COLS = ("chunk_id", "nbuckets")

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def extra_columns_of(names, input_side: bool = False) -> list[str]:
    """Input columns beyond the canonical sequence schema, in input order —
    each becomes its own `payload_<name>` column chunk (generic column
    registry; the reference analyzes any flat schema over 8 physical types,
    column_context.rs:213-292).

    `input_side=True` (encode entry points) additionally REJECTS inputs that
    carry the engine's reserved names: chunk assignment withColumn()s
    chunk_id/nbuckets over the input, so user data under those names would
    be silently clobbered, and `attempt` collides with the encoded table's
    partition column on read-back."""
    if input_side:
        reserved = [c for c in names if c in (*_META_INPUT_COLS, "attempt")]
        if reserved:
            raise ValueError(
                f"input columns {reserved} collide with engine-reserved names "
                "(chunk_id/nbuckets/attempt); rename them before encoding"
            )
    extras = [c for c in names if c not in SEQ_COLUMNS and c not in _META_INPUT_COLS]
    for c in extras:
        if not _NAME_RE.match(c) or c.startswith("payload_"):
            raise ValueError(f"unsupported extra column name {c!r}")
    return extras


def encoded_schema_ddl(extras: list[str] | tuple[str, ...] = ()) -> str:
    payloads = "".join(f", payload_{c} binary" for c in (*PAYLOAD_COLUMNS, *extras))
    return (
        "chunk_id string, n_rows long, n_values long, "
        "encoded_bytes long, raw_bytes long, "
        "doc_id_min string, doc_id_max string, stats_exact boolean, "
        "input_fingerprint string, elapsed_ms double, nbuckets int, bloom binary, "
        f"columns array<struct<{COLMETA_FIELDS}>>" + payloads
    )


def encoded_arrow_schema(extras: list[str] | tuple[str, ...] = ()) -> pa.Schema:
    return pa.schema(
        [
            ("chunk_id", pa.string()),
            ("n_rows", pa.int64()),
            ("n_values", pa.int64()),
            ("encoded_bytes", pa.int64()),
            ("raw_bytes", pa.int64()),
            ("doc_id_min", pa.string()),
            ("doc_id_max", pa.string()),
            ("stats_exact", pa.bool_()),
            ("input_fingerprint", pa.string()),
            ("elapsed_ms", pa.float64()),
            ("nbuckets", pa.int32()),
            ("bloom", pa.binary()),
            ("columns", pa.list_(_COLMETA_ARROW)),
            *[(f"payload_{c}", pa.binary()) for c in (*PAYLOAD_COLUMNS, *extras)],
        ]
    )


LINEAGE_SCHEMA = (
    "chunk_id string, input_fingerprint string, status string, "
    "codec_summary string, encoded_bytes long, raw_bytes long, "
    "elapsed_ms double, attempt int"
)

SEQ_COLUMNS = ("doc_id", "tokens", "n_tok", "source")


MAX_STAT_LENGTH = 64  # reference string_statistics.rs:8


def truncate_stat_min(s: str, limit: int = MAX_STAT_LENGTH) -> str:
    """Truncate a stored min statistic (R9, string_statistics.rs:16-81).
    A prefix is lexicographically ≤ the original, so plain truncation keeps
    the lower bound valid."""
    return s if len(s.encode()) <= limit else s.encode()[:limit].decode(errors="ignore")


def truncate_stat_max(s: str, limit: int = MAX_STAT_LENGTH) -> str:
    """Truncate a stored max statistic, keeping it a valid UPPER bound
    (parquet's truncate semantics): cut to ≤limit bytes on a character
    boundary, then increment the last character's code point (surrogates
    skipped). The incremented prefix compares greater than the original at
    the first differing position, so the bound stays valid even for
    multi-byte characters. If nothing is incrementable, store untruncated."""
    if len(s.encode()) <= limit:
        return s
    chars = list(s.encode()[:limit].decode(errors="ignore"))
    while chars:
        cp = ord(chars[-1])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return "".join(chars[:-1]) + chr(nxt)
        chars.pop()
    return s


def _fingerprint(doc_ids: pa.Array, flat: np.ndarray) -> str:
    """Cheap order-stable content hash for lineage: crc32 over the flat token
    buffer plus the doc_id utf8 data + lengths (buffer-level, no per-row work).
    Null doc_ids hash as length -1; the validity buffer is folded in below."""
    c = zlib.crc32(np.ascontiguousarray(flat))  # buffer protocol — no copy
    lens = pc.fill_null(pc.utf8_length(doc_ids), -1)
    c = zlib.crc32(np.ascontiguousarray(lens, dtype=np.int64), c)
    for buf in doc_ids.buffers():
        if buf is not None:
            c = zlib.crc32(buf, c)
    return f"{c:08x}-{len(doc_ids)}-{len(flat)}"


def _chunk0(col: pa.ChunkedArray, empty_type: pa.DataType) -> pa.Array:
    return col.chunk(0) if col.num_chunks else pa.array([], empty_type)


# head-sample size for the string trial race — the house sampling
# discipline (reference samples ≤16,384 rows, column_context.rs:543)
_STR_TRIAL_ROWS = 16384


def _pick_str_codec(valid: pa.Array, allow_dict: bool = True) -> tuple[str, bytes | None, str]:
    """(codec, pre-built body or None, rule) for a string/binary column:
    trial-encode str_plain vs str_prefix (both one vectorized pass over a
    byte stream that is tiny next to the token payload), add str_dict when
    cardinality says the table pays (R1 on strings,
    dictionary_encoding.rs:312-477), keep the winner under the R3 ≥5% rule.

    Past _STR_TRIAL_ROWS values the race runs on a HEAD SAMPLE — the
    sampled discipline every other column follows. A non-plain sampled
    winner is then encoded in full and size-checked against full plain
    (the int paths' escape hatch), so R3 holds on the whole chunk even
    when the tail's cardinality diverges from the head's; a plain sampled
    winner returns body=None and the caller does the one full encode.
    Chunks arrive doc_id-sorted, so a head sample sees the same
    shared-prefix / cardinality structure as the whole chunk."""
    n = len(valid)
    if n == 0:
        return "str_plain", None, "string-byte-array-encoding"
    sampled = n > _STR_TRIAL_ROWS
    trial = valid.slice(0, _STR_TRIAL_ROWS) if sampled else valid
    n_trial = len(trial)
    bodies = {"str_plain": enc_str_plain(trial), "str_prefix": enc_str_prefix(trial)}
    if allow_dict and pc.count_distinct(trial).as_py() < 0.5 * n_trial:
        bodies["str_dict"] = enc_str_dict(trial)
    best = min(bodies, key=lambda c: (len(bodies[c]), c))
    # R3: a winner that saves <5% vs plain isn't worth the decode detour
    if best != "str_plain" and len(bodies[best]) > 0.95 * len(bodies["str_plain"]):
        best = "str_plain"
    if sampled and best != "str_plain":
        # the head sample picked a non-plain winner: the R3 never-worse-
        # than-plain guarantee must hold on the FULL chunk, not the head —
        # a chunk whose head is low-cardinality but whose tail is high-
        # cardinality would otherwise ship a str_dict payload larger than
        # plain. Encode the winner AND plain in full (plain is one buffer
        # copy + a FOR pack over lengths) and keep whichever actually won;
        # the full body is returned so callers don't encode a second time.
        full = {"str_dict": enc_str_dict, "str_prefix": enc_str_prefix}[best](valid)
        full_plain = enc_str_plain(valid)
        if len(full) > 0.95 * len(full_plain):
            best, bodies = "str_plain", {"str_plain": full_plain}
        else:
            bodies = {best: full}
        sampled = False  # bodies[best] now covers the whole chunk
    rule = {
        "str_plain": "string-byte-array-encoding",
        "str_prefix": "delta-byte-array-front-coding",
        "str_dict": "dictionary-encoding-cardinality",
    }[best]
    return best, None if sampled else bodies[best], rule


def _coerce_str_codec(name: str) -> str:
    """Map family-generic forced codec names onto the string family: `set
    column X dictionary true` stores 'dict', which is an INT codec id — on
    a string column that used to KeyError mid-encode. Unknown int-family
    names fail loudly with the valid choices."""
    if name in ("str_plain", "str_dict", "str_prefix"):
        return name
    mapped = {"dict": "str_dict", "plain": "str_plain"}.get(name)
    if mapped is None:
        raise ValueError(
            f"codec {name!r} is int-family; string columns take "
            "str_plain / str_dict / str_prefix (delta_byte_array)"
        )
    return mapped


def _choose_str(valid: pa.Array, dtype: int, name: str, cfg: EncodeConfig):
    """The one codec decision for a string/binary column (lint and encode both
    call it) → (codec, pre-built body or None, rule, trial). `trial` is the
    array the race ran on: fixed-size binary is cast to large_binary (a
    large_string cast would crash on the non-UTF-8 bytes the encoder
    accepts). A forced codec is mapped onto the string family."""
    trial = valid.cast(pa.large_binary()) if dtype == DT_FIXED_BINARY else valid
    forced = cfg.overrides.get(name)
    if forced:
        return _coerce_str_codec(forced), None, "forced", trial
    codec, body, rule = _pick_str_codec(trial, allow_dict=f"!dict:{name}" not in cfg.overrides)
    return codec, body, rule, trial


def _choose_num(view: np.ndarray, st, dtype: int, name: str, cfg: EncodeConfig) -> Decision:
    """The one codec decision for an int-carrier column (lint and encode both
    call it): bool bit-packs as FOR unless forced, floats take the R4 bss
    gate, everything else the int selector — each under the column's
    forced codec, `!dict` marker and dictionary page limit from `cfg`."""
    forced = cfg.overrides.get(name)
    if dtype == DT_BOOL:
        return Decision(forced or "for", (st.n_values + 7) // 8, "forced" if forced else "bool-bitpack")
    select = select_float_codec if dtype in (DT_FLOAT32, DT_FLOAT64) else select_codec
    return select(
        view, st, forced=forced, wide=is_wide(dtype),
        allow_dict=f"!dict:{name}" not in cfg.overrides,
        dict_page_limit=cfg.dict_limit_for(name),
    )


def _patch_decimal128_stats(st, valid: pa.Array, dtype: int):
    """decimal128 metrics min/max: the carrier view is the LO word only, so
    compute_chunk_stats' bounds are meaningless for precision > 18. Replace
    them with the TRUE unscaled-value bounds, saturated to the metrics
    row's int64 columns (exact whenever the values fit 64 bits — the common
    case). Zone-map scans reject decimal columns (`scan_value_range`), so
    these bounds are informational, never a pruning predicate."""
    if dtype != DT_DECIMAL128 or st is None or len(valid) == 0:
        return st
    i64 = 1 << 63
    sat = lambda v: min(max(v, -i64), i64 - 1)  # noqa: E731 — saturate BOTH sides
    tmin, tmax = decimal128_minmax(valid)
    return dataclasses.replace(st, min_val=sat(tmin), max_val=sat(tmax))


def _flat_values(arr: pa.Array):
    """The one list normaliser → (arr, values, valid, dtype): a fixed-size
    list is cast to a plain list, a list column's values are its flattened
    elements (a scalar column is its own values), `valid` drops the nulls
    and `dtype` is the element dtype code. Encode, lint and the bloom
    builder all see a column through it."""
    if pa.types.is_fixed_size_list(arr.type):
        arr = arr.cast(pa.list_(arr.type.value_type))
    is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    values = arr.flatten() if is_list else arr
    valid = values.drop_null() if values.null_count else values
    return arr, values, valid, dtype_of_arrow(values.type)


def _encode_column(arr: pa.Array, name: str, cfg: EncodeConfig):
    """One column, scalar or list → (payload, ChunkStats|None, rule,
    n_values, dtype_ddl). n_tok, doc_id and every extra column take this
    path. Dispatch: Spark/Arrow type → codec family (the generic column
    registry; reference column_context.rs:213-292 covers the same physical
    types), then the shared `_choose_str` / `_choose_num` decision.

    A list column is the tokens pattern generalized: its flattened values
    pick the codec (floats → the R4 bss gate, the reference's embedding
    detection, rules/vector_embedding.rs:19-76), per-row lengths FOR-pack
    inside the same self-describing frame, and n_values counts ELEMENTS."""
    arr, values, valid, dtype = _flat_values(arr)
    is_list = values is not arr
    # exact DDL for the metrics row: decimal carries (p, s) the dtype BYTE
    # cannot (the payload header stores them separately)
    ddl = spark_ddl_of_arrow(values.type)
    outer = cfg.outer_for(name)
    block_rows = None
    if is_list:
        ddl = f"array<{ddl}>"
        # R10 small-pages knob: a per-column data_page_size_limit splits the
        # list payload into independently decodable blocks sized to the byte
        # budget, so lookup() decodes O(doc) embedding bytes (FLAG_BLOCKED).
        # An explicit block_rows (the X1 carrier plan_from_encoded sniffs from
        # a stored blocked column) wins over the byte budget, so compaction /
        # rewrite reproduce the exact stored layout.
        block_rows = cfg.block_rows_for(name)
        page_limit = cfg.page_limit_for(name)
        if block_rows is None and page_limit and len(arr):
            val_bytes = sum(len(b) for b in (values.buffers() or []) if b is not None)
            per_row = max(1, val_bytes // max(1, len(arr)))
            block_rows = max(16, page_limit // per_row)

    def encode(codec: str, body: bytes | None = None) -> bytes:
        if is_list:
            return encode_list_column(arr, codec, outer, values_body=body, block_rows=block_rows)
        if body is not None:
            return wrap(STR_CODEC_IDS[codec], body, outer, dtype)
        return encode_any_column(arr, codec, outer)

    if is_string_kind(dtype):
        codec, body, rule, _ = _choose_str(valid, dtype, name, cfg)
        # the winning trial body IS the payload, except that fixed-size
        # binary needs its width header, nulls need the validity bitmap and
        # a blocked list re-encodes per block
        if dtype == DT_FIXED_BINARY or values.null_count or block_rows:
            body = None
        return encode(codec, body), None, rule, len(values), ddl
    view = int_view_of(valid, dtype) if len(valid) else np.empty(0, np.int32)
    st = compute_chunk_stats(view, n_rows=len(arr))
    d = _choose_num(view, st, dtype, name, cfg)
    payload = encode(d.codec)
    if dtype == DT_BOOL:
        return payload, None, d.rule, len(values), ddl
    wide = is_wide(dtype)
    elem_bytes = 16 if dtype == DT_DECIMAL128 else 8 if wide else 4
    # the lengths frame of a list payload earns it a larger slack
    slack = 128 if is_list else 64
    if d.codec not in ("plain", "bss") and len(payload) > len(view) * elem_bytes + slack:
        # hard guarantee: never worse than plain (R3 escape hatch). The bound
        # above leaves out plain's own header and validity bitmap, so it only
        # screens: the swap happens when the plain payload really is smaller
        plain = encode("plain")
        if len(plain) < len(payload):
            payload = plain
            d = select_codec(view, st, forced="plain", wide=wide)
    # AFTER selection: the selector's cost model runs on the lo-word view;
    # only the metrics row gets the true-value bounds
    st = _patch_decimal128_stats(st, valid, dtype)
    return payload, st, d.rule, len(values), ddl


def _token_values(toks: pa.Array) -> np.ndarray:
    """The flat int32 element stream of a tokens list array. Null ELEMENTS
    are rejected — the input contract is array<int32 NOT NULL>; silently
    coercing them would feed garbage into stats and codecs."""
    values = toks.flatten()
    if values.null_count:
        raise ValueError(
            "null token elements not supported (contract: array<int32 NOT NULL>)"
        )
    return values.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)


def _gather_flat(toks: pa.Array, idx: np.ndarray) -> np.ndarray:
    """Sorted flat token stream from an UNSORTED null-free list array in one
    vectorized positional gather — replaces the arrow list-take that was the
    single hottest op of the encode kernel (the index stream runs int32;
    chunk caps keep total token counts far below 2**31, and decode guards
    the same bound)."""
    flat0 = _token_values(toks)
    offsets = np.frombuffer(
        toks.buffers()[1], np.int32, count=len(toks) + 1, offset=toks.offset * 4
    ).astype(np.int64)
    starts = offsets[:-1] - offsets[0]
    lens = np.diff(offsets)
    nl = lens[idx]
    out_starts = np.zeros(len(nl), np.int64)
    np.cumsum(nl[:-1], out=out_starts[1:])
    # source index of each output position = its own position + a per-row
    # shift (int32 streams: the memory traffic IS the cost here). Chunk
    # caps keep totals far below 2**31; a direct encode_chunk call past
    # that would silently wrap int32, so widen instead.
    it = np.int32 if len(flat0) <= np.iinfo(np.int32).max else np.int64
    sidx = np.repeat((starts[idx] - out_starts).astype(it), nl)
    sidx += np.arange(len(flat0), dtype=it)
    return flat0[sidx]


def _bloom_of(arr: pa.Array, bp: dict) -> bytes | None:
    """Membership filter over one column's values (list extras: element
    membership — the tokens semantics generalized). Strings enter via the
    FNV-1a 64 hash domain, fixed-width types via their int carrier view."""
    _, _, valid, dtype = _flat_values(arr)
    if len(valid) == 0:
        return None
    if dtype == DT_BOOL:
        return None  # two possible values — a filter prunes nothing
    if is_string_kind(dtype):
        vals = hash_strings(valid)
    else:
        vals = int_view_of(valid, dtype)
    return build_bloom(vals, fpp=bp["fpp"], ndv=bp["ndv"])


def encode_chunk(t: pa.Table, cfg: EncodeConfig | None = None) -> pa.Table:
    """Encode one chunk → one row: per-column payloads + metrics.

    Arrow-native (applyInArrow): the token flatten is a zero-copy view of the
    list array's value buffer — no pandas object columns, no per-row Python.
    Rows are sorted by doc_id so chunk content, fingerprint, and decode order
    are independent of Spark's shuffle arrival order.

    Nulls flow through every column (validity bitmaps at the container
    layer; null_count in the metrics — the reference's null_count tracking,
    column_context.rs:37-41,144-158). A null tokens row must have a null
    n_tok (and vice versa): the row-validity bitmap is stored once, on the
    n_tok payload, and the tokens payload holds only valid rows' values.
    Null ELEMENTS inside a token array are rejected — the input contract is
    array<int32 NOT NULL>.

    n_tok, doc_id and any input column beyond the canonical four (each its
    own `payload_<name>` column chunk) encode through one generic column
    path, `_encode_column`; tokens and source keep their own.
    """
    t0 = time.perf_counter()
    cfg = cfg or EncodeConfig()
    t = t.combine_chunks()
    chunk_id = t.column("chunk_id")[0].as_py()
    nbuckets = t.column("nbuckets")[0].as_py()
    n_rows = t.num_rows
    extras = extra_columns_of(t.schema.names)
    doc = _chunk0(t.column("doc_id"), pa.string())
    src = _chunk0(t.column("source"), pa.string())
    toks = _chunk0(t.column("tokens"), pa.list_(pa.int32()))
    ntok_arr = _chunk0(t.column("n_tok"), pa.int32())
    extra_arrs = {
        name: _chunk0(t.column(name), t.schema.field(name).type) for name in extras
    }
    # skip the whole-chunk gather when rows already arrive in encode order —
    # decode emits sorted rows, so compaction/re-encode inputs hit this path
    # (one cheap comparison pass over the id column vs a multi-MB gather)
    already_sorted = n_rows <= 1 or (
        doc.null_count == 0
        and bool(
            pc.all(pc.greater_equal(doc.slice(1), doc.slice(0, len(doc) - 1))).as_py()
        )
    )
    flat_sorted = None
    if not already_sorted:
        # per-column gather instead of a whole-table sort_by: the scalar
        # takes are cheap, and the token list — the hottest single op of
        # the encode kernel — goes through a vectorized flat-stream gather
        # that never materializes a sorted list array (the encoder only
        # ever consumes the flattened stream). Null token rows fall back
        # to the arrow list-take (validity must be permuted with the rows).
        sidx = pc.sort_indices(doc)  # ascending, nulls at end — sort_by parity
        if toks.null_count == 0 and ntok_arr.null_count == 0:
            flat_sorted = _gather_flat(toks, np.asarray(sidx, dtype=np.int64))
        else:
            toks = toks.take(sidx)
        doc = doc.take(sidx)
        src = src.take(sidx)
        ntok_arr = ntok_arr.take(sidx)
        extra_arrs = {k: v.take(sidx) for k, v in extra_arrs.items()}
    if toks.null_count or ntok_arr.null_count:
        tv, nv = np.asarray(toks.is_valid()), np.asarray(ntok_arr.is_valid())
        if not np.array_equal(tv, nv):
            raise ValueError("tokens and n_tok must be null on exactly the same rows")
        toks_valid = toks.drop_null()
    else:
        toks_valid = toks
    flat = flat_sorted if flat_sorted is not None else _token_values(toks_valid)
    fp = _fingerprint(doc, flat)
    stat_limit = cfg.statistics_truncate_length or MAX_STAT_LENGTH
    # `statistics none` blanks the stored stats (reference EnabledStatistics,
    # prescription.rs:113-130); doc_id bounds ride the doc_id column's level
    doc_stats = cfg.stats_for("doc_id") != "none"
    doc_valid = doc.drop_null() if doc.null_count else doc
    n_doc = len(doc_valid)
    raw_min = doc_valid[0].as_py() if n_doc else ""
    raw_max = doc_valid[n_doc - 1].as_py() if n_doc else ""
    did_min = truncate_stat_min(raw_min, stat_limit) if n_doc and doc_stats else ""
    did_max = truncate_stat_max(raw_max, stat_limit) if n_doc and doc_stats else ""
    # A5 min_is_exact semantics (column_context.rs:478-541): bounds are only
    # trusted as exact when stored untruncated with stats enabled
    stats_exact = bool(doc_stats and did_min == raw_min and did_max == raw_max)

    col_meta: list[dict] = []
    payloads: dict[str, bytes] = {}
    chunk_bloom: list = [None]

    def emit(column, payload, n_values, raw_bytes, stats=None, rule="", t_start=None, bloom=None, null_count=0, dtype_ddl=None, col_bloom=None):
        codec, outer_name = codec_of(payload)
        keep_stats = cfg.stats_for(column) != "none"
        payloads[column] = payload
        if bloom is not None:
            chunk_bloom[0] = bloom
        # compression evidence for lint_encoded: when the stored frame is
        # NOT outer-compressed (auto declined, or the user forced none),
        # record the same bounded zstd tail-sample trial wrap() uses —
        # evidence the R2 analog reads later without touching payloads.
        # Skipped for tiny frames where codec framing dominates the ratio.
        trial = 0.0
        if outer_name == "none" and len(payload) >= 4096:
            tail = payload[-_TRIAL_BYTES:]
            trial = len(_outer_compress("zstd", ZSTD_LEVEL, tail)) / len(tail)
        # blocked-layout evidence: read block_rows off the written frame
        # header (local bytes) so plan_from_encoded can preserve the R10
        # small-pages layout without ever touching stored payloads
        blk = 0
        if len(payload) >= 16 and payload[:2] == b"TL" and (payload[7] & FLAG_BLOCKED):
            blk = struct.unpack_from("<I", payload, 12)[0]
        col_meta.append(
            {
                "column": column,
                "codec": codec,
                "outer": outer_name,
                "dtype": dtype_ddl or DTYPE_SPARK[dtype_of(payload)],
                "n_values": n_values,
                "null_count": null_count,
                "encoded_bytes": len(payload),
                "raw_bytes": raw_bytes,
                "rule": rule,
                "min_val": stats.min_val if stats and keep_stats else 0,
                "max_val": stats.max_val if stats and keep_stats else 0,
                "distinct_est": stats.distinct_est if stats and keep_stats else 0,
                "elapsed_ms": (time.perf_counter() - (t_start or t0)) * 1000,
                "outer_trial_ratio": trial,
                "block_rows": blk,
                "bloom": col_bloom,
            }
        )

    # tokens: the payload column — full selector. The stats pass' exact-NDV
    # resolve factorizes the stream ONCE and the dictionary encoder reuses
    # it (fact cache) — previously the same hash pass ran twice per chunk.
    tcol = time.perf_counter()
    fact_cache: dict = {}
    # one bounds pass shared by the stats row AND the factorizer's
    # dense-path check (each used to rescan the multi-MB stream)
    tmm = (int(flat.min()), int(flat.max())) if len(flat) else None

    def _resolve_ndv():
        fact_cache["f"] = sorted_factorize(flat, minmax=tmm)
        return len(fact_cache["f"][0])

    st = compute_chunk_stats(flat, n_rows, ndv_resolver=_resolve_ndv, minmax=tmm)
    decision = _choose_num(flat, st, DT_INT32, "tokens", cfg)
    payload = encode_int_column(
        flat, decision.codec, outer=cfg.outer_for("tokens"), fact=fact_cache.get("f")
    )
    if len(payload) > len(flat) * 4 + 64 and decision.codec != "plain":
        # hard guarantee: never worse than plain (R3 escape hatch)
        decision = select_codec(flat, st, forced="plain")
        payload = encode_int_column(flat, "plain", outer=cfg.outer_for("tokens"))
    bp = cfg.bloom_for("tokens")
    bloom_buf = build_bloom(flat, fpp=bp["fpp"], ndv=bp["ndv"]) if bp else None
    emit("tokens", payload, len(flat), flat.nbytes, st, decision.rule, tcol,
         bloom=bloom_buf, null_count=toks.null_count, dtype_ddl="array<int>")

    def emit_column(name, arr, raw_bytes):
        tcol = time.perf_counter()
        buf, st, rule, n_values, ddl = _encode_column(arr, name, cfg)
        bp = cfg.bloom_for(name)
        emit(name, buf, n_values, raw_bytes, st, rule, tcol, null_count=arr.null_count,
             dtype_ddl=ddl, col_bloom=_bloom_of(arr, bp) if bp else None)

    # n_tok carries the shared row-validity bitmap when null rows exist
    emit_column("n_tok", ntok_arr, 4 * (n_rows - ntok_arr.null_count))
    # doc_id: sorted unique ids → front coding vs plain vs dict (R1/R5 on strings)
    emit_column("doc_id", doc, int(pc.sum(pc.binary_length(doc_valid)).as_py() or 0))

    # source: constant within a chunk by construction → dictionary
    tcol = time.perf_counter()
    src_codec = _coerce_str_codec(cfg.overrides.get("source", "str_dict"))
    sbuf = encode_any_column(src, src_codec, cfg.outer_for("source"))
    src_bytes = int(pc.sum(pc.binary_length(src.drop_null() if src.null_count else src)).as_py() or 0)
    sbp = cfg.bloom_for("source")
    emit("source", sbuf, n_rows, src_bytes, None, "dictionary-encoding-cardinality", tcol,
         null_count=src.null_count, col_bloom=_bloom_of(src, sbp) if sbp else None)

    for name in extras:
        arr = extra_arrs[name]
        # buffers() is recursive (child value buffers included), so raw
        # covers list extras' element storage too; list extras count
        # ELEMENTS in n_values (the tokens convention) but null ROWS in
        # null_count
        emit_column(name, arr, sum(len(b) for b in (arr.buffers() or []) if b is not None))

    row = {
        "chunk_id": chunk_id,
        "n_rows": n_rows,
        "n_values": len(flat),
        "encoded_bytes": sum(m["encoded_bytes"] for m in col_meta),
        "raw_bytes": sum(m["raw_bytes"] for m in col_meta),
        "doc_id_min": did_min,
        "doc_id_max": did_max,
        "stats_exact": stats_exact,
        "input_fingerprint": fp,
        "elapsed_ms": (time.perf_counter() - t0) * 1000,
        "nbuckets": nbuckets,
        "bloom": chunk_bloom[0],
        "columns": col_meta,
        **{f"payload_{c}": payloads[c] for c in (*PAYLOAD_COLUMNS, *extras)},
    }
    return pa.Table.from_pylist([row], schema=encoded_arrow_schema(extras))


def encode_dataframe(
    df: DataFrame,
    cfg: EncodeConfig | None = None,
    max_rows: int = MAX_CHUNK_ROWS,
    max_values: int = MAX_CHUNK_VALUES,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """sequences(+extras) DataFrame → encoded DataFrame (lazy; no action
    triggered). Extra scalar columns each get their own payload column."""
    cfg = cfg or EncodeConfig()
    extras = extra_columns_of(df.columns, input_side=True)
    if buckets is None:
        buckets = plan_buckets(df, cfg.max_chunk_rows or max_rows, cfg.effective_max_values(max_values))
    chunked = assign_chunks(df, buckets)

    def fn(t: pa.Table) -> pa.Table:
        return encode_chunk(t, cfg)

    return chunked.groupBy("chunk_id").applyInArrow(fn, encoded_schema_ddl(extras))


def column_metrics(encoded: DataFrame) -> DataFrame:
    """Tall per-(chunk, column) metrics view over the wide encoded layout —
    the metadata-scan surface (S2 analog). Reads only the metrics columns;
    parquet column pruning keeps every payload byte untouched.

    Schema evolution: tables written before the v3 metadata (no dtype /
    null_count fields in the columns struct) still read — dtype is coalesced
    from the codec family exactly as the container layer's v2 fallback
    implies it (unwrap(): str codecs → string, else int; tokens → array<int>)
    and null_count reads 0 (pre-v3 tables could not store nulls). A field
    that reads null counts as absent: that is how an explicit-schema read
    (table_meta's payload scan) sees a field the file predates."""
    meta_fields = set(encoded.schema["columns"].dataType.elementType.fieldNames())

    def stored(field: str, absent):
        return F.coalesce(F.col(f"c.{field}"), absent) if field in meta_fields else absent

    base = encoded.select(
        "chunk_id",
        "n_rows",
        "doc_id_min",
        "doc_id_max",
        "stats_exact",
        "input_fingerprint",
        "nbuckets",
        F.col("bloom").isNotNull().alias("chunk_has_bloom"),
        F.explode("columns").alias("c"),
    )
    return base.select(
        "chunk_id",
        "n_rows",
        "doc_id_min",
        "doc_id_max",
        "stats_exact",
        "input_fingerprint",
        "nbuckets",
        F.col("c.column").alias("column"),
        F.col("c.codec").alias("codec"),
        F.col("c.outer").alias("outer"),
        stored(
            "dtype",
            F.when(F.col("c.codec").startswith("str_"), F.lit("string"))
            .when(F.col("c.column") == "tokens", F.lit("array<int>"))
            .otherwise(F.lit("int")),
        ).alias("dtype"),
        stored("null_count", F.lit(0).cast("long")).alias("null_count"),
        F.col("c.n_values").alias("n_values"),
        F.col("c.encoded_bytes").alias("encoded_bytes"),
        F.col("c.raw_bytes").alias("raw_bytes"),
        F.col("c.rule").alias("rule"),
        F.col("c.min_val").alias("min_val"),
        F.col("c.max_val").alias("max_val"),
        F.col("c.distinct_est").alias("distinct_est"),
        F.col("c.elapsed_ms").alias("elapsed_ms"),
        # pre-r6 tables: no stored trial → no evidence
        stored("outer_trial_ratio", F.lit(0.0)).alias("outer_trial_ratio"),
        # pre-knob tables can hold no blocked frames (field and flag shipped
        # in the same format rev) → 0 ⇒ flat is exact
        stored("block_rows", F.lit(0)).cast("long").alias("block_rows"),
        (
            (F.col("chunk_has_bloom") & (F.col("c.column") == "tokens"))
            | (
                F.col("c.bloom").isNotNull()
                if "bloom" in meta_fields
                else F.lit(False)
            )
        ).alias("has_bloom"),
    )


def lineage_from_encoded(encoded: DataFrame, attempt: int = 1) -> DataFrame:
    """Derive per-chunk lineage rows from the encoded metrics (FIXTURES.md §2).

    `encoded` is one `attempt=N` dir, committed by one write of a
    `groupBy("chunk_id")` result (run() picks an N no existing dir has), so
    no chunk id repeats in it and the rows need no dedup shuffle. A crash
    between the encoded and lineage writes leaves that dir without lineage;
    the resume writes a fresh attempt dir, never into this one.
    """
    summary = F.concat_ws(
        ",",
        F.sort_array(
            F.transform("columns", lambda c: F.concat_ws(":", c["column"], c["codec"]))
        ),
    )
    return encoded.select(
        "chunk_id",
        "input_fingerprint",
        F.lit("complete").alias("status"),
        summary.alias("codec_summary"),
        "encoded_bytes",
        "raw_bytes",
        "elapsed_ms",
        F.lit(attempt).alias("attempt"),
    )


def plan_from_encoded(spark: SparkSession, out_dir: str) -> EncodeConfig:
    """X1 property inference (reference infer_writer_properties,
    fix.rs:25-70): reconstruct an EncodeConfig from an existing encoded table
    so a re-encode preserves untouched columns' settings. Per column: the
    majority codec (most_frequent, fix.rs:196-211, deterministic tiebreak on
    name) as a forced override only when every stored chunk with that codec
    records rule `forced` (an auto codec re-selects per chunk), the `!dict`
    marker when no chunk stores a dict codec, the majority outer, bloom iff
    any chunk carries a filter (fix.rs:168-182), statistics level page >
    chunk > none (infer_column_statistics_enabled, fix.rs:139-166 — the
    engine's "page-level" analog is the bloom/membership index, its "chunk
    stats" are the stored min/max/ndv metrics), plus the
    file-level max_chunk_rows from the largest chunk (infer_max_row_group_size,
    fix.rs:95-103). ONE aggregate over the metadata (single scan);
    O(#columns × #codecs) rows reach the driver, never O(#chunks). The
    metadata comes from table_meta, each chunk at its earliest attempt.

    Stats-presence detection rides the format's own invariants, mirroring the
    reference's presence-not-value checks: a chunk with data always stores
    distinct_est ≥ 1 for int columns (so distinct_est = 0 with n_values > 0
    ⟺ `statistics none` blanked it), and doc_id bounds are blanked to ''
    (encode_chunk). source stores no per-chunk stats in either mode, so its
    level is left at the default — same as the reference returning None when
    a column carries no evidence (fix.rs:139-144)."""
    from .decode_job import table_meta

    enc = column_metrics(table_meta(spark, out_dir).pruned())

    # any stats-bearing column (canonical or extra, scalar or list element)
    # stores distinct_est ≥ 1 when it has data and stats are on — the dtype
    # field makes the blanked-stats check generic instead of hard-wired to
    # tokens/n_tok. Covers the full int-carrier family: ints, floats,
    # temporals, decimals (an int-only regex silently dropped `statistics
    # none` for timestamp/decimal/float extras on re-encode — X1 violation).
    # Bool and string dtypes are deliberately absent: their encode paths
    # store no ChunkStats, so distinct_est = 0 is their NORMAL state, not a
    # blanked one. (List columns count elements in n_values and null ROWS
    # in null_count — the predicate stays conservative under the mixed
    # units: a chunk it skips just doesn't contribute to the max below.)
    int_stats = F.col("dtype").rlike(
        r"^(array<)?(int|bigint|smallint|tinyint|float|double|date"
        r"|time\(6\)|timestamp|timestamp_ntz|decimal\(\d+,\d+\))>?$"
    ) & (F.col("n_values") > F.col("null_count"))
    doc_stats = (F.col("column") == "doc_id") & (F.col("n_rows") > 0)
    # ONE scan: the previous shape (two window-majority aggregates joined
    # to a third aggregate) re-read the encoded table's metadata three
    # times — at ~10^6 chunks (~10^5 files) repeated file-open overhead
    # turns a planner call into minutes (measured super-linear at the
    # 5k-chunk rehearsal, BENCH/BASELINE.md §6). Aggregate per
    # (column, codec, outer) once and fold the majority vote driver-side:
    # O(#columns × #codecs × #outers) rows reach the driver, never #chunks.
    grows = (
        enc.groupBy("column", "codec", "outer")
        .agg(
            F.count("*").alias("cnt"),
            # source has no selector (its codec is always the configured
            # one), so its stored codec is as good as forced
            F.min((F.col("rule") == "forced") | (F.col("column") == "source")).alias("forced"),
            F.max("has_bloom").alias("has_bloom"),
            F.max(F.when(int_stats, F.col("distinct_est") > 0)).alias("has_int_stats"),
            F.max(F.when(doc_stats, F.col("doc_id_max") != "")).alias("has_doc_stats"),
            F.max("n_rows").alias("max_rows"),
            F.max("dtype").alias("dtype"),  # uniform per column (append guard)
            F.max("block_rows").alias("block_rows"),  # R10 blocked layout
        )
        .collect()
    )
    codec_cnt: dict = {}
    outer_cnt: dict = {}
    forced: dict = {}
    per_col: dict = {}
    for g in grows:
        c = g["column"]
        codec_cnt[(c, g["codec"])] = codec_cnt.get((c, g["codec"]), 0) + g["cnt"]
        forced[(c, g["codec"])] = forced.get((c, g["codec"]), True) and bool(g["forced"])
        outer_cnt[(c, g["outer"])] = outer_cnt.get((c, g["outer"]), 0) + g["cnt"]
        a = per_col.setdefault(
            c,
            {"has_bloom": False, "has_int_stats": None, "has_doc_stats": None,
             "max_rows": 0, "dtype": g["dtype"], "block_rows": 0},
        )
        a["has_bloom"] = a["has_bloom"] or bool(g["has_bloom"])
        for k in ("has_int_stats", "has_doc_stats"):
            if g[k] is not None:
                a[k] = bool(a[k]) or g[k]
        a["max_rows"] = max(a["max_rows"], g["max_rows"] or 0)
        a["block_rows"] = max(a["block_rows"], g["block_rows"] or 0)

    def _majority(cnts: dict, column: str) -> str:
        # most frequent; deterministic tiebreak on the value name, matching
        # the reference's most_frequent (fix.rs:196-211)
        cands = [(n, v) for (c, v), n in cnts.items() if c == column]
        return min(cands, key=lambda nv: (-nv[0], nv[1]))[1]

    rows = [
        {
            "column": c,
            "codec": _majority(codec_cnt, c),
            "outer": _majority(outer_cnt, c),
            **a,
        }
        for c, a in sorted(per_col.items())
    ]
    cfg = EncodeConfig()
    for r in rows:
        # only a codec the user forced is carried over: an auto-selected one
        # re-selects per chunk, so a merged or rewritten chunk keeps the
        # codec its own data suits instead of the table's majority
        if forced[(r["column"], r["codec"])]:
            cfg.overrides[r["column"]] = r["codec"]
        # `dictionary false` (or a dictionary page limit no chunk fitted)
        # leaves no trace but the absence of dict chunks: keep the
        # dictionary off so an auto re-select cannot bring it back
        if not any(c == r["column"] and v in ("dict", "str_dict") for c, v in codec_cnt):
            cfg.overrides[f"!dict:{r['column']}"] = "1"
        cfg.outer[r["column"]] = r["outer"]
        # blanked stats are checked FIRST: a table written with `statistics
        # none` + `bloom_filter true` has a bloom but zeroed min/max/ndv, and
        # promoting bloom presence to stats_level='page' would silently
        # re-enable statistics the original config disabled (the explicit
        # cfg.bloom entry below keeps the filter itself on either way)
        if r["has_int_stats"] is False or r["has_doc_stats"] is False:
            cfg.stats_level[r["column"]] = "none"  # blanked ⇒ was `statistics none`
            if r["has_bloom"]:
                cfg.bloom[r["column"]] = {"fpp": 0.01, "ndv": None}
        elif r["has_bloom"]:
            cfg.bloom[r["column"]] = {"fpp": 0.01, "ndv": None}
            cfg.stats_level[r["column"]] = "page"
        # max over chunk rows = the reference's largest-row-group inference
        cfg.max_chunk_rows = max(cfg.max_chunk_rows or 1, int(r["max_rows"] or 1))
    # X1 for the R10 small-pages layout: a blocked column's block_rows is
    # stored in the per-column METRICS (recorded at encode time from the
    # written frame header), so the inference rides the same payload-pruned
    # single scan as everything above — no frame probe. A first()-row
    # header sniff was tried and rejected twice over: it misses a blocked
    # column whose first-listed chunk is a small unblocked tail (blocks
    # only form when a chunk exceeds block_rows), and any all-chunk header
    # read forces the full payload column off disk (Parquet can't prune
    # inside a binary value). Mixed block sizes (appends under a changed
    # budget) resolve to the max — deterministic, and the larger block
    # still bounds a lookup's decoded bytes. Pre-knob tables have no
    # stored block_rows and can hold no blocked frames (both shipped in
    # the same format rev), so 0 ⇒ flat is exact, not a guess.
    for r in rows:
        if r.get("block_rows"):
            cfg.block_rows[r["column"]] = int(r["block_rows"])
    return cfg


def _lineage(spark: SparkSession, lin_path: str):
    """(done chunk ids, totals) from the one read of `lineage/`, under
    LINEAGE_SCHEMA (no inference job): `totals` is one aggregate — the
    complete chunks (distinct ids), their byte sums and the max attempt,
    all 0 when there is no lineage yet (done ids None). Existence is
    checked on the Hadoop FS rather than by a failing read, whose failure
    event the session's Observation listener logs as an error."""
    path = spark._jvm.org.apache.hadoop.fs.Path(lin_path)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return None, dict.fromkeys(("chunks", "encoded_bytes", "raw_bytes", "attempt"), 0)
    lin = spark.read.schema(LINEAGE_SCHEMA).parquet(lin_path)
    complete = F.col("status") == "complete"
    totals = lin.agg(
        F.count_distinct(F.when(complete, F.col("chunk_id"))).alias("chunks"),
        F.sum(F.when(complete, F.col("encoded_bytes"))).alias("encoded_bytes"),
        F.sum(F.when(complete, F.col("raw_bytes"))).alias("raw_bytes"),
        F.max("attempt").alias("attempt"),
    ).first()
    done = lin.filter(complete).select("chunk_id").distinct()
    return done, {k: v or 0 for k, v in totals.asDict().items()}


def run(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    cfg: EncodeConfig | None = None,
    resume: bool = True,
    max_rows: int = MAX_CHUNK_ROWS,
    max_values: int = MAX_CHUNK_VALUES,
    salt: str | None = None,
) -> dict:
    """Full checkpointed encode: write encoded + lineage parquet under out_dir.

    Returns a summary dict (chunks encoded, bytes, skipped-on-resume).
    `salt` namespaces chunk ids (streaming passes the micro-batch id).
    An existing table is planned from one lineage aggregate and the read
    ops' metadata read (decode_job.table_meta).
    """
    from .decode_job import _stored_dtype_code, table_meta

    enc_path = f"{out_dir}/encoded"
    lin_path = f"{out_dir}/lineage"

    cfg = cfg or EncodeConfig()
    extras = extra_columns_of(df.columns, input_side=True)
    enc_ddl = encoded_schema_ddl(extras)
    buckets = plan_buckets(df, cfg.max_chunk_rows or max_rows, cfg.effective_max_values(max_values))
    chunked = assign_chunks(df, buckets, salt=salt)

    done, before = _lineage(spark, lin_path)
    try:
        meta = table_meta(spark, out_dir)
    except FileNotFoundError:
        meta = None
    if meta is not None and meta.attempts is None:
        raise OSError(
            f"cannot list {enc_path}; refusing to pick an attempt number "
            "that may already hold chunks"
        )
    # the attempt counter skips past every existing encoded dir, not just
    # lineage's: a crash between the encoded write and the lineage write
    # leaves a committed attempt=N dir with no lineage row, and reusing N
    # would APPEND duplicate chunk rows into that partition, which no
    # earliest-attempt read can remove
    attempt = max([before["attempt"], *(meta.attempts if meta else ())]) + 1

    if meta is not None and meta.types:
        # an existing table with chunks — lineage or not (a direct-Arrow
        # attempt dir, or a crash between the encoded and lineage writes,
        # leaves attempt dirs with no lineage rows) — must take the append:
        # the same metrics struct, the same columns, the same dtypes. A
        # different column set would leave attempt dirs with divergent
        # parquet schemas, and an inferred read picks one footer
        _require_current_metrics_struct(spark, out_dir, "append")
        have, want = set(meta.types), {*PAYLOAD_COLUMNS, *extras}
        if have != want:
            raise ValueError(
                f"existing table at {out_dir!r} stores columns {sorted(have)} "
                f"but the input carries {sorted(want)}; appends must match the "
                "stored schema (use a new out_dir for a different shape)"
            )
        # same NAMES is not enough: an extra whose type changed (double →
        # float) would store divergent dtype metadata across attempts and
        # decode would declare one mapInArrow schema while half the
        # payloads carry the other type
        diverged = {
            c: (meta.types[c], df.schema[c].dataType.simpleString()) for c in extras
        }
        diverged = {c: si for c, si in diverged.items() if si[0] != si[1]}
        if diverged:
            raise ValueError(
                f"append type mismatch at {out_dir!r}: "
                + ", ".join(
                    f"{c} is stored as {s!r} but the input carries {i!r}"
                    for c, (s, i) in sorted(diverged.items())
                )
                + "; cast the input to the stored types or use a new out_dir"
            )
        # the metrics DDL erases the TIME tick unit (all four units store as
        # 'time(6)'), and the zone-map / bloom probes sniff the unit from ONE
        # chunk's frame header and apply it column-wide — so an append must
        # not mix tick units under a matching DDL. Spark's TIME(p)
        # interchanges as time64[ns] (container.py:57), so a table whose
        # existing chunks store any other carrier (a direct-Arrow attempt
        # written with time64[us]/time32) cannot take a Spark append.
        from .codecs.container import DT_TIME_MS, DT_TIME_NS, DT_TIME_S, DT_TIME_US

        _unit = {DT_TIME_NS: "time64[ns]", DT_TIME_US: "time64[us]",
                 DT_TIME_MS: "time32[ms]", DT_TIME_S: "time32[s]"}
        for c in extras:
            if "time(6)" not in meta.types[c]:
                continue
            code = _stored_dtype_code(spark, out_dir, c)
            if code is not None and code != DT_TIME_NS:
                raise ValueError(
                    f"append tick-unit mismatch at {out_dir!r}: column "
                    f"{c!r} stores {_unit.get(code, code)!r} "
                    "carriers but a Spark TIME(p) append would store "
                    "time64[ns]; mixed units under one 'time(6)' DDL "
                    "would mis-scale zone-map and bloom probes — "
                    "re-encode into a fresh out_dir instead"
                )

    skipped = 0
    if resume and done is not None:
        skipped = before["chunks"]
        # no forced broadcast: AQE broadcasts the done-set while it is small
        # and falls back to a shuffled anti-join at the 10^12-row design
        # point (~1.5e7 finished chunk ids would be a several-hundred-MB
        # forced broadcast per executor)
        chunked = chunked.join(done, "chunk_id", "left_anti")

    def fn(t: pa.Table) -> pa.Table:
        return encode_chunk(t, cfg)

    encoded = chunked.groupBy("chunk_id").applyInArrow(fn, enc_ddl)
    # each attempt writes its own partition dir so the lineage derivation
    # below re-reads ONLY this attempt's files — at 10^12 rows re-reading the
    # whole encoded table per resume would be a full extra scan
    _write_chunks(encoded, f"{enc_path}/attempt={attempt}", "append")
    # lineage is derived from the committed encoded table (checkpoint follows
    # data; a crash between the two writes only re-encodes, never corrupts).
    # Explicit schema: a fully-skipped resume writes zero data files, which
    # schema inference would reject. The write observes this attempt's
    # totals, so the summary adds them to the lineage read's instead of
    # re-reading all of lineage.
    committed = spark.read.schema(enc_ddl).parquet(f"{enc_path}/attempt={attempt}")
    added = Observation()
    lineage_from_encoded(committed, attempt).observe(
        added,
        F.count(F.lit(1)).alias("chunks"),
        F.sum("encoded_bytes").alias("encoded_bytes"),
        F.sum("raw_bytes").alias("raw_bytes"),
    ).write.mode("append").parquet(lin_path)
    if resume or done is None:
        # a resume anti-joins the done set away, so the new chunks are new
        new = added.get
        totals = {k: before[k] + (new[k] or 0) for k in ("chunks", "encoded_bytes", "raw_bytes")}
    else:
        # without resume the new attempt may repeat done chunks: count the union
        totals = _lineage(spark, lin_path)[1]
    return {
        "chunks": totals["chunks"],
        "encoded_bytes": totals["encoded_bytes"],
        "raw_bytes": totals["raw_bytes"],
        "skipped_chunks": skipped,
        "attempt": attempt,
    }


def _write_chunks(df: DataFrame, path: str, mode: str) -> None:
    """The one writer of encoded chunk rows (run()'s attempt dirs and the
    verbatim copy of kept chunks).

    Each file holds at most 8 chunk rows (~64 MB at default chunk caps):
    decode-scan parallelism and file-level chunk_id pruning then track
    CHUNK count, not reducer count. With unbounded files one reducer's
    whole output landed in a single parquet row group (parquet-mr only
    re-checks its block size every ≥100 rows — far above our multi-MB
    chunk rows — so the 128 MB/8 MB block settings never trigger), which
    capped decode parallelism at the file count and made lookups read past
    every co-resident chunk. 8 × ~8 MB files stay well above the
    small-file zone even at 10^6-chunk scale (~10^5 files).

    The parquet is uncompressed: payload columns are the bytes, already
    codec+outer compressed — snappy on top saves ~nothing and costs a full
    (de)compression pass on every write AND every later scan; the metrics
    columns are a rounding error of the file."""
    df.write.mode(mode).option("maxRecordsPerFile", 8).option(
        "compression", "uncompressed"
    ).parquet(path)


def _require_current_metrics_struct(spark: SparkSession, out_dir: str, op: str) -> None:
    """Refuse to mix metrics-struct schemas in one table. run() checks it
    before appending; compact and rewrite_from_evidence copy kept chunk
    rows verbatim and then run() re-encodes the rest — a source table with
    an OLDER metrics struct would pass the copy, then trip run()'s guard
    AFTER dest was wiped, leaving a plausible-looking table that silently
    lacks the re-encoded chunks. _open_source checks it up front, before
    any destructive step.

    This is the one footer-schema read the writers keep: table_meta reads
    under the current schema, where a struct field a file lacks reads as
    null, so only a footer shows the struct a table was written with."""
    enc = spark.read.parquet(f"{out_dir}/encoded")
    meta_fields = set(enc.schema["columns"].dataType.elementType.fieldNames())
    current = {f.name for f in _COLMETA_ARROW}
    if meta_fields != current:
        old = "" if "dtype" in meta_fields else "it predates per-column dtype metadata; "
        raise ValueError(
            f"the table at {out_dir!r} stores a different metrics-struct shape "
            f"({sorted(meta_fields ^ current)} differ); {old}{op} would mix "
            "struct schemas — re-encode the table (decode + run into a fresh "
            "out_dir) first"
        )


def _open_source(spark: SparkSession, src_dir: str, dest_dir: str, op: str):
    """The source table's TableMeta for a dest-replacing op (`compact`,
    `rewrite`) — `pruned()` reads each chunk at its earliest attempt —
    refused before any destructive step when it cannot be rewritten safely.

    dest must be disjoint from src: the op wipes dest up front, so an
    in-place invocation (`compact out/ -o out/`) — or a dest nested inside
    src (or vice versa) — would delete the source table before anything is
    copied, despite the "never mutates src_dir" contract. A source with an
    older metrics struct is refused too (_require_current_metrics_struct)."""
    import os

    from .decode_job import table_meta

    s = os.path.abspath(src_dir).rstrip("/")
    d = os.path.abspath(dest_dir).rstrip("/")
    if s == d or d.startswith(s + "/") or s.startswith(d + "/"):
        raise ValueError(
            f"{op} dest_dir {dest_dir!r} overlaps src_dir {src_dir!r}; "
            f"{op} replaces dest and must never touch src"
        )
    _require_current_metrics_struct(spark, src_dir, op)
    return table_meta(spark, src_dir)


def _copy_kept_reencode_rest(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    extras: dict[str, str],
    kept: DataFrame,
    groups: list[tuple[DataFrame, EncodeConfig, str]],
    max_rows: int,
    max_values: int,
) -> dict | None:
    """Replace dest_dir with the `kept` chunk rows, copied verbatim, plus
    every `(part, cfg, salt_prefix)` group re-encoded — the
    preserve-untouched rewrite (fix.rs:25-70) at CHUNK granularity.
    `extras` are the source's extra columns and types (TableMeta.extras).
    Returns the last run()'s summary, which totals dest's lineage, or None
    when there is no group.

    - dest is wiped first: a prior (possibly crashed) run's attempt=2 files
      would survive the attempt=1 overwrite, and the re-encode would then
      APPEND a second copy of every re-encoded chunk at the same
      (chunk_id, attempt) — a duplicate no earliest-attempt read can remove.
    - kept chunks are a scan→write with no shuffle: payload bytes stay
      byte-identical and their lineage rows are carried over.
    - each group's rows are decoded (shuffle-free mapInArrow), persisted —
      run() aggregates them once for bucket planning and again through the
      encode shuffle — and re-encoded through run() under the salt
      `{salt_prefix}{digest:08x}`, the digest summed over the group's chunk
      ids. An unsalted or fixed-salt re-encode could re-derive a chunk id
      that collides with a kept chunk of the same source (bucket numbering
      restarts at 0 over the group) or with one from an earlier pass, and
      the earliest-attempt read would then silently drop one of two
      different chunks. The digest makes a re-run of the same pass derive
      the same ids (resume-safe); distinct prefixes keep groups apart even
      under digest collisions. Lookups stay exact: candidates are
      re-derived per (prefix, nbuckets) row, as for streaming-salted chunks.
    """
    from pyspark import StorageLevel

    from .decode_job import decode_dataframe

    dest_path = spark._jvm.org.apache.hadoop.fs.Path(dest_dir)
    fs = dest_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(dest_path):
        fs.delete(dest_path, True)

    body_cols = [c for c in kept.columns if c != "attempt"]
    _write_chunks(kept.select(*body_cols), f"{dest_dir}/encoded/attempt=1", "overwrite")
    # kept ids from the source frame, not a read-back: an empty kept set
    # writes zero files and schema inference would reject the dir
    kept_lineage = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(f"{src_dir}/lineage")
        .filter(F.col("status") == "complete")
        .dropDuplicates(["chunk_id"])
        # no forced broadcast: a mostly-kept rewrite at the 10^12-row design
        # point carries an O(#chunks) id set — AQE picks broadcast while it
        # is small and a shuffled semi-join of key-only rows past that (same
        # rule as run()'s resume anti-join)
        .join(kept.select("chunk_id").distinct(), "chunk_id", "left_semi")
        .withColumn("attempt", F.lit(1))
    )
    kept_lineage.write.mode("overwrite").parquet(f"{dest_dir}/lineage")

    summary = None
    for part, cfg, salt_prefix in groups:
        digest = (
            part.agg(F.sum(F.xxhash64("chunk_id").cast("decimal(38,0)")).alias("d"))
            .first()["d"]
        )
        rows = decode_dataframe(part, extra_types=extras).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            summary = run(
                spark,
                rows,
                dest_dir,
                cfg=cfg,
                resume=True,
                max_rows=max_rows,
                max_values=max_values,
                salt=f"{salt_prefix}{int(digest or 0) % 0xFFFFFFFF:08x}",
            )
        finally:
            rows.unpersist()
    return summary


# the stored-evidence verdicts rewrite_from_evidence re-encodes on — the
# full rule-family set: the reference's rewrite applies the FULL merged
# prescription (cli/main.rs:186-230), not just the dictionary tier
REWRITE_RULES = (
    "enable-dictionary", "disable-dictionary",
    "enable-compression", "disable-compression",
)


def rewrite_from_evidence(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    max_values: int = MAX_CHUNK_VALUES,
) -> dict:
    """Close the evidence→rewrite loop (the reference's lint→rewrite
    lifecycle, cli/main.rs:186-199, applied to the engine's own format at
    CHUNK granularity): re-encode ONLY the chunks whose stored-evidence
    lint (lint_encoded) gives one of REWRITE_RULES, and copy every other
    chunk — payloads byte-identical — plus its lineage, through the same
    copy-kept / re-encode-rest path as compact (_copy_kept_reencode_rest).

    The re-encode FORCES the evidence's verdict — enable-dictionary →
    `dict`, disable-dictionary → the !dict marker — rather than merely
    releasing the inferred override: R1's cardinality rule and the
    byte-cost selector can legitimately disagree (a small-range
    low-cardinality stream packs tighter under FOR than dict), and a
    released override would loop on the same evidence forever. Chunks are
    grouped by their exact per-column verdict SIGNATURE and each group
    re-encodes with its own forced settings (one pass per distinct
    signature, salt prefix `e{i}x` — no majority-vote compromise across
    disagreeing chunks). Untouched columns keep their inferred settings.

    Returns {chunks_total, kept_chunks, rewritten_chunks, flagged_columns,
    verdict_groups}.
    """
    from pyspark import StorageLevel

    from .lint_job import lint_encoded
    from .plan import Prescription

    meta = _open_source(spark, src_dir, dest_dir, "rewrite")
    enc = meta.pruned()

    # persisted: the verdict frame is consulted several times below (flagged
    # ids, signatures, majority votes, one filter per signature group) and
    # each un-persisted consult would re-run the full lint DAG — a repeated
    # metadata scan + dedup shuffle that grows with #chunks (measured ~17 s
    # per re-execution at the 5k-chunk rehearsal). Rows are O(#chunks ×
    # #flagged-columns) thin verdicts, payload-free.
    ev = (
        lint_encoded(spark, src_dir)
        .filter(F.col("rule").isin(*REWRITE_RULES))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    flagged = ev.select("chunk_id").distinct()
    # per-chunk verdict SIGNATURE (sorted column=rule entries): chunks are
    # re-encoded in one pass PER DISTINCT SIGNATURE, each with exactly its
    # own verdicts forced — no majority-vote compromise, so a minority
    # chunk never re-flags on the next evidence pass. The signature count
    # is bounded by 3^#flagged-columns, tiny; chunk id sets stay
    # distributed (semi-joins, never collected).
    chunk_sigs = ev.groupBy("chunk_id").agg(
        F.sort_array(F.collect_set(F.concat_ws("=", "column", "rule"))).alias("sig")
    )
    sigs = sorted(
        tuple(r["sig"]) for r in chunk_sigs.select("sig").distinct().collect()
    )
    flagged_cols = sorted({e.split("=")[0] for sig in sigs for e in sig})
    # compression verdicts are COLUMN-level in the reference (R2's majority
    # vote emits one directive per column, compression_codec.rs:247-264) —
    # and they must be here too, because the selective re-encode re-buckets
    # rows: a merged chunk's bigger body can develop compression evidence a
    # small source chunk lacked, and a per-group outer would leave those
    # re-flagging forever. Majority vote per column, applied to EVERY
    # re-encode group; O(#columns) rows reach the driver.
    comp_votes = (
        ev.filter(F.col("rule").isin("enable-compression", "disable-compression"))
        .groupBy("column", "rule")
        .count()
        .collect()
    )
    tally: dict[str, int] = {}
    for r in comp_votes:
        tally[r["column"]] = tally.get(r["column"], 0) + (
            r["count"] if r["rule"] == "enable-compression" else -r["count"]
        )
    comp_force = {
        col: (f"zstd:{ZSTD_LEVEL}" if votes >= 0 else "none")
        for col, votes in tally.items()
    }

    base_cfg = plan_from_encoded(spark, src_dir)
    groups = []
    for i, sig in enumerate(sigs):
        ids = chunk_sigs.filter(
            F.col("sig") == F.array(*[F.lit(e) for e in sig])
        ).select("chunk_id")
        cfg = Prescription([]).apply(base=base_cfg)  # deep copy
        for entry in sig:
            col, rule = entry.split("=", 1)
            if rule in ("enable-compression", "disable-compression"):
                continue  # column-level: comp_force below covers every group
            cfg.overrides.pop(col, None)
            cfg.overrides.pop(f"!dict:{col}", None)
            if rule == "enable-dictionary":
                cfg.overrides[col] = "dict"
            else:
                cfg.overrides[f"!dict:{col}"] = "1"
        # forced outer compresses unconditionally (container.wrap), so the
        # enable verdict can't re-fire on any rewritten chunk
        cfg.outer.update(comp_force)
        # sigs is sorted, so group i's salt prefix is deterministic
        groups.append((enc.join(ids, "chunk_id", "left_semi"), cfg, f"e{i}x"))

    n_flagged = flagged.count()
    _copy_kept_reencode_rest(
        spark, src_dir, dest_dir, meta.extras,
        kept=enc.join(flagged, "chunk_id", "left_anti"),
        groups=groups,
        max_rows=MAX_CHUNK_ROWS,
        max_values=max_values,
    )

    total = enc.count()
    ev.unpersist()
    return {
        "chunks_total": int(total),
        "kept_chunks": int(total - n_flagged),
        "rewritten_chunks": int(n_flagged),
        "flagged_columns": flagged_cols,
        "verdict_groups": len(sigs),
    }


def _chunk_sources(batches):
    """mapInArrow body: (chunk_id, payload_source) rows → (chunk_id, source).
    assign_chunks routes one source to a chunk, so its first value names it."""
    for b in batches:
        first = [decode_column_arrow(p)[0].as_py() for p in b.column("payload_source").to_pylist()]
        yield pa.record_batch(
            [b.column("chunk_id"), pa.array(first, pa.string())], names=["chunk_id", "source"]
        )


def compact(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    cfg: "EncodeConfig | None" = None,
    min_rows: int | None = None,
    max_rows: int = MAX_CHUNK_ROWS,
    max_values: int = MAX_CHUNK_VALUES,
) -> dict:
    """Merge undersized chunks of an encoded table into R7-sized ones.

    Streaming ingest salts chunk ids per micro-batch (streaming.py), so a
    long-lived table accumulates many tiny chunks — the "too many small row
    groups" half of the reference's page/row-group-size rule
    (page_size.rs:19-115) applied to the engine's own format. Compaction
    keeps every other chunk and re-encodes the undersized ones through the
    same copy-kept / re-encode-rest path as rewrite_from_evidence
    (_copy_kept_reencode_rest, one group, salt prefix `c`):

    - undersized = `n_rows < min_rows AND n_values < max_values/2`, decided
      from the metrics columns alone (no payload read); both caps are
      checked because a chunk can be row-small yet token-full, and
      re-encoding it would buy nothing.
    - only sources with at least two undersized chunks are re-encoded: the
      encoder buckets per source, so a source's lone small chunk merges
      with nothing and is kept. A chunk's source is read from its source
      payload (a chunk id cannot name it: sources and salts may hold '#').
    - kept chunks are copied verbatim — payload bytes byte-identical, their
      lineage rows carried over.
    - merged chunks are decoded and re-encoded through the normal
      checkpointed path, with the table's codec/outer/bloom/statistics
      preserved via plan_from_encoded unless an explicit cfg overrides them.

    Writes a fresh encoded table at dest_dir; never mutates src_dir (a crash
    mid-compact leaves the source intact; re-running overwrites dest).
    Returns {chunks_before, kept_chunks, merged_chunks, chunks_after,
    bytes_before, bytes_after}.
    """
    meta = _open_source(spark, src_dir, dest_dir, "compact")
    enc = meta.pruned()
    if min_rows is None:
        min_rows = max_rows // 2
    undersized = (F.col("n_rows") < min_rows) & (F.col("n_values") < max_values // 2)
    before = enc.agg(
        F.count("*").alias("chunks"),
        F.sum("encoded_bytes").alias("bytes"),
        F.sum(F.when(undersized, 1).otherwise(0)).alias("small"),
    ).first()
    # one row per source with a single undersized chunk: O(#sources) rows
    # reach the driver, never O(#chunks)
    lone = [
        r["chunk_id"]
        for r in enc.filter(undersized)
        .select("chunk_id", "payload_source")
        .mapInArrow(_chunk_sources, "chunk_id string, source string")
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.min("chunk_id").alias("chunk_id"))
        .filter(F.col("n") == 1)
        .collect()
    ]
    merge = undersized & ~F.col("chunk_id").isin(lone)
    n_merge = int(before["small"] or 0) - len(lone)
    if cfg is None and n_merge:
        cfg = plan_from_encoded(spark, src_dir)
        # the inferred max_chunk_rows is the max over EXISTING chunks — on a
        # mostly-small table that would re-create small chunks; the compaction
        # target is the caller's max_rows
        cfg.max_chunk_rows = max_rows
    after = _copy_kept_reencode_rest(
        spark, src_dir, dest_dir, meta.extras,
        kept=enc.filter(~merge),
        groups=[(enc.filter(merge), cfg, "c")] if n_merge else [],
        max_rows=max_rows,
        max_values=max_values,
    )
    chunks, nbytes = int(before["chunks"]), int(before["bytes"] or 0)
    return {
        "chunks_before": chunks,
        "kept_chunks": chunks - n_merge,
        "merged_chunks": n_merge,
        "chunks_after": int(after["chunks"]) if after else chunks,
        "bytes_before": nbytes,
        "bytes_after": int(after["encoded_bytes"]) if after else nbytes,
    }
