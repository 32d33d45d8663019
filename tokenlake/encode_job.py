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

import re
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from .chunking import MAX_CHUNK_ROWS, MAX_CHUNK_VALUES, assign_chunks, plan_buckets
from .codecs import codec_of, encode_int_column, encode_str_column
from .codecs.bloom import build_bloom
from .plan import EncodeConfig
from .select import select_codec
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


ENCODED_SCHEMA = encoded_schema_ddl()
ENCODED_ARROW_SCHEMA = encoded_arrow_schema()

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
    from .codecs.strcodecs import enc_str_dict, enc_str_plain, enc_str_prefix

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


def _patch_decimal128_stats(st, valid: pa.Array, dtype: int):
    """decimal128 metrics min/max: the carrier view is the LO word only, so
    compute_chunk_stats' bounds are meaningless for precision > 18. Replace
    them with the TRUE unscaled-value bounds, saturated to the metrics
    row's int64 columns (exact whenever the values fit 64 bits — the common
    case). Zone-map scans reject decimal columns (`scan_value_range`), so
    these bounds are informational, never a pruning predicate."""
    from .codecs.container import DT_DECIMAL128, decimal128_minmax

    if dtype != DT_DECIMAL128 or st is None or len(valid) == 0:
        return st
    import dataclasses

    i64 = 1 << 63
    sat = lambda v: min(max(v, -i64), i64 - 1)  # noqa: E731 — saturate BOTH sides
    tmin, tmax = decimal128_minmax(valid)
    return dataclasses.replace(st, min_val=sat(tmin), max_val=sat(tmax))


def _encode_list_extra(arr: pa.Array, name: str, cfg: EncodeConfig):
    """One extra LIST column → (payload, stats, rule, n_values, dtype_ddl).
    The tokens pattern generalized: flattened values pick their codec via
    the normal per-family selector (floats → the R4 bss gate — the
    reference's embedding detection, rules/vector_embedding.rs:19-76,
    finally feeding a real codec path); per-row lengths FOR-pack inside the
    same self-describing frame."""
    from .codecs.container import (
        DT_BOOL,
        DT_FLOAT32,
        DT_FLOAT64,
        dtype_of_arrow,
        encode_list_column,
        int_view_of,
        is_string_kind,
        is_wide,
        spark_ddl_of_arrow,
    )
    from .select import select_codec, select_float_codec

    t = arr.type
    if pa.types.is_fixed_size_list(t):
        arr = arr.cast(pa.list_(t.value_type))
        t = arr.type
    elem = dtype_of_arrow(t.value_type)
    ddl = f"array<{spark_ddl_of_arrow(t.value_type)}>"
    outer = cfg.outer_for(name)
    forced = cfg.overrides.get(name)
    from .codecs.container import DT_FIXED_BINARY

    values = arr.flatten()
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
    valid = values.drop_null() if values.null_count else values
    if is_string_kind(elem):
        trial = valid.cast(pa.large_binary()) if elem == DT_FIXED_BINARY else valid
        body = None
        if forced:
            codec, rule = _coerce_str_codec(forced), "forced"
        else:
            codec, body, rule = _pick_str_codec(trial, allow_dict=f"!dict:{name}" not in cfg.overrides)
        if elem == DT_FIXED_BINARY or values.null_count or block_rows:
            body = None  # fsb needs its width header; nulls need the bitmap
        return (
            encode_list_column(arr, codec, outer, values_body=body, block_rows=block_rows),
            None,
            rule,
            len(values),
            ddl,
        )
    if elem == DT_BOOL:
        return (
            encode_list_column(arr, forced or "for", outer, block_rows=block_rows),
            None,
            "bool-bitpack",
            len(values),
            ddl,
        )
    view = int_view_of(valid, elem) if len(valid) else np.empty(0, np.int32)
    wide = is_wide(elem)
    st = compute_chunk_stats(view, n_rows=len(arr))
    if elem in (DT_FLOAT32, DT_FLOAT64):
        d = select_float_codec(
            view, st, forced=forced, wide=wide,
            allow_dict=f"!dict:{name}" not in cfg.overrides,
            dict_page_limit=cfg.dict_limit_for(name),
        )
    else:
        d = select_codec(
            view, st, forced=forced,
            allow_dict=f"!dict:{name}" not in cfg.overrides,
            dict_page_limit=cfg.dict_limit_for(name),
            wide=wide,
        )
    payload = encode_list_column(arr, d.codec, outer, block_rows=block_rows)
    from .codecs.container import DT_DECIMAL128

    elem_bytes = 16 if elem == DT_DECIMAL128 else 8 if wide else 4
    if d.codec not in ("plain", "bss") and len(payload) > len(view) * elem_bytes + 128:
        # hard guarantee: never worse than plain (R3 escape hatch)
        payload = encode_list_column(arr, "plain", outer, block_rows=block_rows)
        d = select_codec(view, st, forced="plain", wide=wide)
    st = _patch_decimal128_stats(st, valid, elem)
    return payload, st, d.rule, len(values), ddl


def _encode_extra(arr: pa.Array, name: str, cfg: EncodeConfig):
    """One extra column → (payload, ChunkStats|None, rule, n_values|None,
    dtype_ddl|None) — the last two are set only for list columns (element
    count and the array<...> DDL string).
    Dispatch: Spark/Arrow type → codec family (the generic column registry;
    reference column_context.rs:213-292 covers the same physical types)."""
    from .codecs.container import (
        DT_BOOL,
        DT_FLOAT32,
        DT_FLOAT64,
        dtype_of_arrow,
        encode_any_column,
        int_view_of,
        is_string_kind,
        is_wide,
    )
    from .select import select_float_codec

    if (
        pa.types.is_list(arr.type)
        or pa.types.is_large_list(arr.type)
        or pa.types.is_fixed_size_list(arr.type)
    ):
        return _encode_list_extra(arr, name, cfg)
    from .codecs.container import spark_ddl_of_arrow

    from .codecs.container import DT_FIXED_BINARY

    dtype = dtype_of_arrow(arr.type)
    # exact DDL for the metrics row: decimal carries (p, s) the dtype BYTE
    # cannot (the payload header stores them separately)
    ddl = spark_ddl_of_arrow(arr.type)
    outer = cfg.outer_for(name)
    forced = cfg.overrides.get(name)
    valid = arr.drop_null() if arr.null_count else arr
    if is_string_kind(dtype):
        # fixed-size binary runs the trial race as large_binary (a
        # large_string cast would crash on non-UTF-8 bytes)
        trial = valid.cast(pa.large_binary()) if dtype == DT_FIXED_BINARY else valid
        if forced:
            codec, body, rule = _coerce_str_codec(forced), None, "forced"
        else:
            codec, body, rule = _pick_str_codec(trial, allow_dict=f"!dict:{name}" not in cfg.overrides)
        if body is not None and not arr.null_count and dtype != DT_FIXED_BINARY:
            # the winning trial body IS the payload (same reuse as doc_id).
            # NOT for fixed-size binary: its payload needs the u32 width
            # header encode_any_column prepends — reusing the bare str body
            # would corrupt the frame.
            from .codecs.container import wrap
            from .codecs.strcodecs import STR_CODEC_IDS

            return wrap(STR_CODEC_IDS[codec], body, outer, dtype), None, rule, None, ddl
        return encode_any_column(arr, codec, outer), None, rule, None, ddl
    if dtype == DT_BOOL:
        return encode_any_column(arr, forced or "for", outer), None, "bool-bitpack", None, ddl
    view = int_view_of(valid, dtype) if len(valid) else np.empty(0, np.int32)
    wide = is_wide(dtype)
    st = compute_chunk_stats(view, n_rows=len(arr))
    if dtype in (DT_FLOAT32, DT_FLOAT64):
        d = select_float_codec(
            view, st, forced=forced, wide=wide,
            allow_dict=f"!dict:{name}" not in cfg.overrides,
            dict_page_limit=cfg.dict_limit_for(name),
        )
    else:
        d = select_codec(
            view, st, forced=forced,
            allow_dict=f"!dict:{name}" not in cfg.overrides,
            dict_page_limit=cfg.dict_limit_for(name),
            wide=wide,
        )
    payload = encode_any_column(arr, d.codec, outer)
    from .codecs.container import DT_DECIMAL128

    elem = 16 if dtype == DT_DECIMAL128 else 8 if wide else 4
    if d.codec not in ("plain", "bss") and len(payload) > len(view) * elem + 64:
        # hard guarantee: never worse than plain (R3 escape hatch)
        payload = encode_any_column(arr, "plain", outer)
        d = select_codec(view, st, forced="plain", wide=wide)
    # AFTER selection: the selector's cost model runs on the lo-word view;
    # only the metrics row gets the true-value bounds
    st = _patch_decimal128_stats(st, valid, dtype)
    return payload, st, d.rule, None, ddl


def _gather_flat(toks: pa.Array, idx: np.ndarray) -> np.ndarray:
    """Sorted flat token stream from an UNSORTED null-free list array in one
    vectorized positional gather — replaces the arrow list-take that was the
    single hottest op of the encode kernel (the index stream runs int32;
    chunk caps keep total token counts far below 2**31, and decode guards
    the same bound)."""
    values = toks.flatten()
    if values.null_count:
        raise ValueError(
            "null token elements not supported (contract: array<int32 NOT NULL>)"
        )
    offsets = np.frombuffer(
        toks.buffers()[1], np.int32, count=len(toks) + 1, offset=toks.offset * 4
    ).astype(np.int64)
    flat0 = values.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
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
    from .codecs.bloom import build_bloom, hash_strings
    from .codecs.container import DT_BOOL, dtype_of_arrow, int_view_of, is_string_kind

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_fixed_size_list(t):
        arr = arr.cast(pa.list_(t.value_type))
        t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        arr = arr.flatten()
    valid = arr.drop_null() if arr.null_count else arr
    if len(valid) == 0:
        return None
    dtype = dtype_of_arrow(valid.type)
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

    Any input column beyond the canonical four becomes its own
    `payload_<name>` column chunk via the generic registry (_encode_extra).
    """
    t0 = time.perf_counter()
    cfg = cfg or EncodeConfig()
    overrides = cfg.overrides
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
    if flat_sorted is not None:
        flat = flat_sorted
    else:
        if len(toks_valid) and toks_valid.flatten().null_count:
            raise ValueError(
                "null token elements not supported (contract: array<int32 NOT NULL>)"
            )
        flat = toks_valid.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
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
        from .codecs.container import DTYPE_SPARK, dtype_of

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
            from .codecs.container import ZSTD_LEVEL, _TRIAL_BYTES, _outer_compress

            tail = payload[-_TRIAL_BYTES:]
            trial = len(_outer_compress("zstd", ZSTD_LEVEL, tail)) / len(tail)
        # blocked-layout evidence: read block_rows off the written frame
        # header (local bytes) so plan_from_encoded can preserve the R10
        # small-pages layout without ever touching stored payloads
        from .codecs.container import FLAG_BLOCKED

        blk = 0
        if len(payload) >= 16 and payload[:2] == b"TL" and (payload[7] & FLAG_BLOCKED):
            import struct as _struct

            blk = _struct.unpack_from("<I", payload, 12)[0]
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
    from .codecs.bitio import sorted_factorize

    fact_cache: dict = {}
    # one bounds pass shared by the stats row AND the factorizer's
    # dense-path check (each used to rescan the multi-MB stream)
    tmm = (int(flat.min()), int(flat.max())) if len(flat) else None

    def _resolve_ndv():
        fact_cache["f"] = sorted_factorize(flat, minmax=tmm)
        return len(fact_cache["f"][0])

    st = compute_chunk_stats(flat, n_rows, ndv_resolver=_resolve_ndv, minmax=tmm)
    decision = select_codec(
        flat, st, forced=overrides.get("tokens"),
        allow_dict="!dict:tokens" not in overrides,
        dict_page_limit=cfg.dict_limit_for("tokens"),
    )
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

    # n_tok: small-int lengths — same selector machinery; carries the shared
    # row-validity bitmap when null rows exist
    tcol = time.perf_counter()
    lens_valid = (ntok_arr.drop_null() if ntok_arr.null_count else ntok_arr).to_numpy(
        zero_copy_only=False
    ).astype(np.int32)
    lst = compute_chunk_stats(lens_valid, n_rows)
    ldec = select_codec(
        lens_valid, lst, forced=overrides.get("n_tok"),
        allow_dict="!dict:n_tok" not in overrides,
        dict_page_limit=cfg.dict_limit_for("n_tok"),
    )
    if ntok_arr.null_count:
        from .codecs.container import encode_any_column

        nbuf = encode_any_column(ntok_arr, ldec.codec, cfg.outer_for("n_tok"))
    else:
        nbuf = encode_int_column(lens_valid, ldec.codec, outer=cfg.outer_for("n_tok"))
    nbp = cfg.bloom_for("n_tok")
    emit("n_tok", nbuf, n_rows, lens_valid.nbytes, lst, ldec.rule, tcol,
         null_count=ntok_arr.null_count,
         col_bloom=_bloom_of(ntok_arr, nbp) if nbp else None)

    # doc_id: sorted unique ids → front coding vs plain vs dict (R1/R5 on strings)
    tcol = time.perf_counter()
    from .codecs.container import wrap as _wrap
    from .codecs.strcodecs import STR_CODEC_IDS

    forced_doc = overrides.get("doc_id")
    doc_body = None
    if forced_doc:
        doc_codec, doc_rule = _coerce_str_codec(forced_doc), "forced"
    else:
        doc_codec, doc_body, doc_rule = _pick_str_codec(
            doc_valid, allow_dict="!dict:doc_id" not in overrides
        )
    if doc.null_count:
        from .codecs.container import encode_any_column

        dbuf = encode_any_column(doc, doc_codec, cfg.outer_for("doc_id"))
    elif doc_body is not None:
        # the winning trial body IS the payload — don't encode it twice
        from .codecs.container import DT_STRING

        dbuf = _wrap(STR_CODEC_IDS[doc_codec], doc_body, cfg.outer_for("doc_id"), DT_STRING)
    else:
        dbuf = encode_str_column(doc, doc_codec, outer=cfg.outer_for("doc_id"))
    doc_bytes = int(pc.sum(pc.binary_length(doc_valid)).as_py() or 0)
    dbp = cfg.bloom_for("doc_id")
    emit("doc_id", dbuf, n_rows, doc_bytes, None, doc_rule, tcol, null_count=doc.null_count,
         col_bloom=_bloom_of(doc, dbp) if dbp else None)

    # source: constant within a chunk by construction → dictionary
    tcol = time.perf_counter()
    if src.null_count:
        from .codecs.container import encode_any_column

        sbuf = encode_any_column(src, _coerce_str_codec(overrides.get("source", "str_dict")), cfg.outer_for("source"))
    else:
        sbuf = encode_str_column(src, _coerce_str_codec(overrides.get("source", "str_dict")), outer=cfg.outer_for("source"))
    src_bytes = int(pc.sum(pc.binary_length(src.drop_null() if src.null_count else src)).as_py() or 0)
    sbp = cfg.bloom_for("source")
    emit("source", sbuf, n_rows, src_bytes, None, "dictionary-encoding-cardinality", tcol,
         null_count=src.null_count, col_bloom=_bloom_of(src, sbp) if sbp else None)

    # extra columns: generic registry dispatch
    from .codecs.container import DTYPE_SPARK

    for name in extras:
        tcol = time.perf_counter()
        arr = extra_arrs[name]
        ebuf, est, erule, n_vals, ddl = _encode_extra(arr, name, cfg)
        # buffers() is recursive (child value buffers included), so raw
        # covers list extras' element storage too; list extras count
        # ELEMENTS in n_values (the tokens convention) but null ROWS in
        # null_count
        raw = sum(len(b) for b in (arr.buffers() or []) if b is not None)
        ebp = cfg.bloom_for(name)
        emit(name, ebuf, n_rows if n_vals is None else n_vals, raw, est, erule,
             tcol, null_count=arr.null_count, dtype_ddl=ddl,
             col_bloom=_bloom_of(arr, ebp) if ebp else None)

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
    and null_count reads 0 (pre-v3 tables could not store nulls)."""
    meta_fields = set(encoded.schema["columns"].dataType.elementType.fieldNames())
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
        (
            F.col("c.dtype")
            if "dtype" in meta_fields
            else F.when(F.col("c.codec").startswith("str_"), F.lit("string"))
            .when(F.col("c.column") == "tokens", F.lit("array<int>"))
            .otherwise(F.lit("int"))
        ).alias("dtype"),
        (
            F.col("c.null_count") if "null_count" in meta_fields else F.lit(0).cast("long")
        ).alias("null_count"),
        F.col("c.n_values").alias("n_values"),
        F.col("c.encoded_bytes").alias("encoded_bytes"),
        F.col("c.raw_bytes").alias("raw_bytes"),
        F.col("c.rule").alias("rule"),
        F.col("c.min_val").alias("min_val"),
        F.col("c.max_val").alias("max_val"),
        F.col("c.distinct_est").alias("distinct_est"),
        F.col("c.elapsed_ms").alias("elapsed_ms"),
        (
            F.col("c.outer_trial_ratio")
            if "outer_trial_ratio" in meta_fields
            else F.lit(0.0)  # pre-r6 tables: no stored trial → no evidence
        ).alias("outer_trial_ratio"),
        (
            F.col("c.block_rows")
            if "block_rows" in meta_fields
            # pre-knob tables can hold no blocked frames (field and flag
            # shipped in the same format rev) → 0 ⇒ flat is exact
            else F.lit(0)
        ).cast("long").alias("block_rows"),
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

    A crash between the encoded and lineage writes can leave duplicate chunk
    rows; content is deterministic, so dedup keeps byte totals exact.
    """
    summary = F.concat_ws(
        ",",
        F.sort_array(
            F.transform("columns", lambda c: F.concat_ws(":", c["column"], c["codec"]))
        ),
    )
    return encoded.dropDuplicates(["chunk_id"]).select(
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
    so a re-encode preserves untouched columns' settings. Per column:
    majority codec and outer (most_frequent, fix.rs:196-211, deterministic
    tiebreak on name), bloom iff any chunk carries a filter (fix.rs:168-182),
    statistics level page > chunk > none (infer_column_statistics_enabled,
    fix.rs:139-166 — the engine's "page-level" analog is the bloom/membership
    index, its "chunk stats" are the stored min/max/ndv metrics), plus the
    file-level max_chunk_rows from the largest chunk (infer_max_row_group_size,
    fix.rs:95-103). ONE aggregate over the metadata (single scan);
    O(#columns × #codecs) rows reach the driver, never O(#chunks).

    Stats-presence detection rides the format's own invariants, mirroring the
    reference's presence-not-value checks: a chunk with data always stores
    distinct_est ≥ 1 for int columns (so distinct_est = 0 with n_values > 0
    ⟺ `statistics none` blanked it), and doc_id bounds are blanked to ''
    (encode_chunk). source stores no per-chunk stats in either mode, so its
    level is left at the default — same as the reference returning None when
    a column carries no evidence (fix.rs:139-144)."""
    enc = column_metrics(spark.read.parquet(f"{out_dir}/encoded"))

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
    per_col: dict = {}
    for g in grows:
        c = g["column"]
        codec_cnt[(c, g["codec"])] = codec_cnt.get((c, g["codec"]), 0) + g["cnt"]
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
        cfg.overrides[r["column"]] = r["codec"]
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
    """
    enc_path = f"{out_dir}/encoded"
    lin_path = f"{out_dir}/lineage"

    cfg = cfg or EncodeConfig()
    extras = extra_columns_of(df.columns, input_side=True)
    enc_ddl = encoded_schema_ddl(extras)
    buckets = plan_buckets(df, cfg.max_chunk_rows or max_rows, cfg.effective_max_values(max_values))
    chunked = assign_chunks(df, buckets, salt=salt)

    attempt = 1
    done: DataFrame | None = None
    try:
        existing = spark.read.parquet(lin_path)
        done = existing.filter(F.col("status") == "complete").select("chunk_id").distinct()
        attempt = int(existing.agg(F.max("attempt")).first()[0] or 0) + 1
    except Exception:
        done = None
    # reconcile with the ENCODED table's attempt dirs: a crash between the
    # encoded write and the lineage write leaves a committed attempt=N dir
    # with no lineage row — a lineage-only derivation would reuse N and
    # APPEND duplicate chunk rows into the same partition, which
    # dedup_attempts (min attempt per chunk) cannot remove. Skipping past
    # every existing dir keeps the re-encode in a fresh attempt, where the
    # dedup works as designed.
    from .decode_job import _encoded_attempts

    enc_max = max(_encoded_attempts(spark, out_dir), default=None)
    if enc_max is not None and enc_max >= attempt:
        attempt = enc_max + 1

    if done is not None or enc_max is not None:
        # an existing encoded table — whether it has lineage or not (a
        # direct-Arrow attempt dir, or a crash between the encoded and
        # lineage writes, leaves attempt dirs with no lineage rows) — must
        # pass the append-compatibility guards below. Appending a DIFFERENT
        # column set would leave attempt dirs with divergent parquet
        # schemas; a later read picks one footer and the other attempts'
        # extra payloads silently vanish. Refuse up front.
        try:
            stored = spark.read.parquet(enc_path)
            have = {
                c[len("payload_") :] for c in stored.columns if c.startswith("payload_")
            }
        except Exception:
            stored, have = None, None
        want = {*PAYLOAD_COLUMNS, *extras}
        if have is not None and have != want:
            raise ValueError(
                f"existing table at {out_dir!r} stores columns {sorted(have)} "
                f"but the input carries {sorted(want)}; appends must match the "
                "stored schema (use a new out_dir for a different shape)"
            )
        if stored is not None:
            # same NAMES is not enough: an extra whose type changed (double →
            # float) would store divergent dtype metadata across attempts and
            # decode would declare one mapInArrow schema while half the
            # payloads carry the other type (round-4 advice). Compare dtypes.
            meta_fields = set(stored.schema["columns"].dataType.elementType.fieldNames())
            if "dtype" not in meta_fields:
                raise ValueError(
                    f"existing table at {out_dir!r} predates per-column dtype "
                    "metadata; appending would mix metrics-struct schemas in "
                    "one table — re-encode it (decode + run into a fresh "
                    "out_dir) before appending"
                )
            current_fields = {f.name for f in _COLMETA_ARROW}
            if meta_fields != current_fields:
                raise ValueError(
                    f"existing table at {out_dir!r} stores a different "
                    f"metrics-struct shape ({sorted(meta_fields ^ current_fields)} "
                    "differ); appending would mix struct schemas — re-encode "
                    "it into a fresh out_dir first"
                )
            if extras:
                from .decode_job import extra_types_of

                # non-strict: a schema-only table (empty kept-set of an
                # all-small compaction) has no metrics rows to compare yet
                stored_types = extra_types_of(stored, strict=False)
                input_types = {
                    c: df.schema[c].dataType.simpleString() for c in extras
                }
                diverged = {
                    c: (stored_types[c], input_types[c])
                    for c in extras
                    if c in stored_types and stored_types[c] != input_types[c]
                }
                if diverged:
                    raise ValueError(
                        f"append type mismatch at {out_dir!r}: "
                        + ", ".join(
                            f"{c} is stored as {s!r} but the input carries {i!r}"
                            for c, (s, i) in sorted(diverged.items())
                        )
                        + "; cast the input to the stored types or use a new out_dir"
                    )
                # the metrics DDL erases the TIME tick unit (all four units
                # store as 'time(6)'), and the zone-map / bloom probes sniff
                # the unit from ONE chunk's frame header and apply it column-
                # wide — so an append must not mix tick units under a
                # matching DDL. Spark's TIME(p) interchanges as time64[ns]
                # (container.py:57), so a table whose existing chunks store
                # any other carrier (a direct-Arrow attempt written with
                # time64[us]/time32) cannot take a Spark append.
                from .codecs.container import (
                    DT_TIME_MS, DT_TIME_NS, DT_TIME_S, DT_TIME_US,
                )
                from .decode_job import _stored_dtype_code

                _unit = {DT_TIME_NS: "time64[ns]", DT_TIME_US: "time64[us]",
                         DT_TIME_MS: "time32[ms]", DT_TIME_S: "time32[s]"}
                for c, ddl in stored_types.items():
                    if "time(6)" not in ddl or c not in extras:
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
        skipped = done.count()
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
    # Cap each encoded file at 8 chunk rows (~64 MB at default chunk caps):
    # decode-scan parallelism and file-level chunk_id pruning then track
    # CHUNK count, not reducer count. With unbounded files one reducer's
    # whole output landed in a single parquet row group (parquet-mr only
    # re-checks its block size every ≥100 rows — far above our multi-MB
    # chunk rows — so the 128 MB/8 MB block settings never trigger), which
    # capped decode parallelism at the file count and made lookups read past
    # every co-resident chunk. 8 × ~8 MB files stay well above the
    # small-file zone even at 10^6-chunk scale (~10^5 files).
    # uncompressed parquet for the encoded table: payload columns are the
    # bytes (already codec+outer compressed — snappy on top saves ~nothing
    # and costs a full (de)compression pass on every write AND every later
    # scan); the metrics columns are a rounding error of the file
    encoded.write.mode("append").option("maxRecordsPerFile", 8).option(
        "compression", "uncompressed"
    ).parquet(f"{enc_path}/attempt={attempt}")
    # lineage is derived from the committed encoded table (checkpoint follows
    # data; a crash between the two writes only re-encodes, never corrupts).
    # Explicit schema: a fully-skipped resume writes zero data files, which
    # schema inference would reject.
    committed = spark.read.schema(enc_ddl).parquet(f"{enc_path}/attempt={attempt}")
    lineage = lineage_from_encoded(committed, attempt)
    lineage.write.mode("append").parquet(lin_path)

    summary = (
        spark.read.parquet(lin_path)
        .filter(F.col("status") == "complete")
        .agg(
            F.countDistinct("chunk_id").alias("chunks"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
            F.sum("raw_bytes").alias("raw_bytes"),
        )
        .first()
    )
    return {
        "chunks": summary["chunks"],
        "encoded_bytes": summary["encoded_bytes"],
        "raw_bytes": summary["raw_bytes"],
        "skipped_chunks": skipped,
        "attempt": attempt,
    }


def _require_current_metrics_struct(enc: DataFrame, op: str) -> None:
    """Selective rewrite/compaction copy kept chunk rows verbatim and then
    run() re-encodes the rest — a source table with an OLDER metrics struct
    would pass the copy, then trip run()'s struct-shape guard AFTER dest was
    wiped, leaving a plausible-looking table that silently lacks the
    re-encoded chunks. Refuse up front, before any destructive step."""
    meta_fields = set(enc.schema["columns"].dataType.elementType.fieldNames())
    current = {f.name for f in _COLMETA_ARROW}
    if meta_fields != current:
        raise ValueError(
            f"source table stores a different metrics-struct shape "
            f"({sorted(meta_fields ^ current)} differ); {op} would mix struct "
            "schemas — re-encode the table (decode + run into a fresh "
            "out_dir) first"
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
    lint (lint_encoded) says enable-dictionary / disable-dictionary /
    enable-compression / disable-compression — the full rule-family set,
    not just the dictionary tier — and copy every other chunk — payloads
    byte-identical — plus its lineage.

    The re-encode FORCES the evidence's verdict — enable-dictionary →
    `dict`, disable-dictionary → the !dict marker — rather than merely
    releasing the inferred override: R1's cardinality rule and the
    byte-cost selector can legitimately disagree (a small-range
    low-cardinality stream packs tighter under FOR than dict), and a
    released override would loop on the same evidence forever. Chunks are
    grouped by their exact per-column verdict SIGNATURE and each group
    re-encodes with its own forced settings (one pass per distinct
    signature — no majority-vote compromise across disagreeing chunks).
    Untouched columns keep their inferred settings (X1 preserve-untouched,
    fix.rs:25-70).

    Re-encoded chunks carry a content-derived salt exactly like
    compaction: an unsalted re-encode could re-derive a chunk id that
    collides with a KEPT chunk of the same source (bucket numbering
    restarts at 0 over the flagged subset), and dedup_attempts would then
    silently drop one of two different chunks. Lookups stay exact — the
    candidate derivation already walks every (prefix, nbuckets) group.

    Returns {chunks_total, kept_chunks, rewritten_chunks, flagged_columns}.
    """
    import os

    from .decode_job import (
        decode_dataframe,
        dedup_attempts,
        extra_types_of,
        read_encoded,
    )
    from .lint_job import lint_encoded

    s = os.path.abspath(src_dir).rstrip("/")
    d = os.path.abspath(dest_dir).rstrip("/")
    if s == d or d.startswith(s + "/") or s.startswith(d + "/"):
        raise ValueError(
            f"rewrite dest_dir {dest_dir!r} overlaps src_dir {src_dir!r}; "
            "the rewrite replaces dest and must never touch src"
        )

    from pyspark import StorageLevel

    # persisted: the verdict frame is consulted several times below (flagged
    # ids, signatures, majority votes, one filter per signature group) and
    # each un-persisted consult would re-run the full lint DAG — a repeated
    # metadata scan + dedup shuffle that grows with #chunks (measured ~17 s
    # per re-execution at the 5k-chunk rehearsal). Rows are O(#chunks ×
    # #flagged-columns) thin verdicts, payload-free.
    ev = (
        lint_encoded(spark, src_dir)
        .filter(
            F.col("rule").isin(
                "enable-dictionary", "disable-dictionary",
                # round 6: the compression tier's verdicts re-encode too —
                # the reference's rewrite applies the FULL merged
                # prescription (cli/main.rs:186-230), not just dictionary
                "enable-compression", "disable-compression",
            )
        )
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
    from .codecs.container import ZSTD_LEVEL

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

    enc = dedup_attempts(read_encoded(spark, src_dir))
    body_cols = [c for c in enc.columns if c != "attempt"]
    _require_current_metrics_struct(enc, "selective rewrite")

    dest_path = spark._jvm.org.apache.hadoop.fs.Path(dest_dir)
    fs = dest_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(dest_path):
        fs.delete(dest_path, True)

    kept = enc.join(flagged, "chunk_id", "left_anti")
    kept.select(*body_cols).write.mode("overwrite").option(
        "maxRecordsPerFile", 8
    ).option("compression", "uncompressed").parquet(
        f"{dest_dir}/encoded/attempt=1"
    )
    kept_ids = kept.select("chunk_id").distinct()
    kept_lineage = (
        spark.read.parquet(f"{src_dir}/lineage")
        .filter(F.col("status") == "complete")
        .dropDuplicates(["chunk_id"])
        .join(kept_ids, "chunk_id", "left_semi")
        .withColumn("attempt", F.lit(1))
    )
    kept_lineage.write.mode("overwrite").parquet(f"{dest_dir}/lineage")

    base_cfg = plan_from_encoded(spark, src_dir)

    from pyspark import StorageLevel

    from .plan import Prescription

    n_flagged = flagged.count()
    extra_types = extra_types_of(enc)
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
        # content-derived salt per group (a fixed salt would collide with
        # kept chunks of the same source — bucket numbering restarts over
        # the group subset); the group index keeps distinct groups distinct
        # even under digest collisions, deterministically (sigs is sorted)
        digest = (
            enc.join(ids, "chunk_id", "left_semi")
            .agg(F.sum(F.xxhash64("chunk_id").cast("decimal(38,0)")).alias("d"))
            .first()["d"]
        )
        salt = f"e{i}x{int(digest or 0) % 0xFFFFFFFF:08x}"
        rows = decode_dataframe(
            enc.join(ids, "chunk_id", "left_semi"), extra_types=extra_types
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            run(
                spark,
                rows,
                dest_dir,
                cfg=cfg,
                resume=True,
                max_rows=cfg.max_chunk_rows or MAX_CHUNK_ROWS,
                max_values=max_values,
                salt=salt,
            )
        finally:
            rows.unpersist()

    total = enc.count()
    ev.unpersist()
    return {
        "chunks_total": int(total),
        "kept_chunks": int(total - n_flagged),
        "rewritten_chunks": int(n_flagged),
        "flagged_columns": flagged_cols,
        "verdict_groups": len(sigs),
    }


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
    (page_size.rs:19-115) applied to the engine's own format. Compaction is
    the preserve-untouched idea (fix.rs:25-70) at CHUNK granularity:

    - undersized = `n_rows < min_rows AND n_values < max_values/2`, decided
      from the metrics columns alone (no payload read); both caps are
      checked because a chunk can be row-small yet token-full, and
      re-encoding it would buy nothing.
    - kept chunks are copied verbatim — payload bytes byte-identical, their
      lineage rows carried over — via a scan→write with no shuffle.
    - undersized chunks are decoded (shuffle-free mapInArrow) and re-encoded
      through the normal checkpointed path under a per-pass salt (chunk ids
      from different passes/batches must never collide), with the table's
      codec/outer/bloom/statistics preserved via plan_from_encoded unless an
      explicit cfg overrides them. The salted re-encode keeps doc lookups
      exact: candidates are re-derived per (prefix, nbuckets) row, the same
      mechanism streaming-salted chunks already rely on.

    Writes a fresh encoded table at dest_dir; never mutates src_dir (a crash
    mid-compact leaves the source intact; re-running overwrites dest).
    Returns {chunks_before, kept_chunks, merged_chunks, chunks_after,
    bytes_before, bytes_after}.
    """
    import os

    from .decode_job import decode_dataframe, dedup_attempts, read_encoded

    # dest must be disjoint from src: compaction wipes dest up front, so an
    # in-place invocation (`compact out/ -o out/`) — or a dest nested inside
    # src (or vice versa) — would delete the source table before anything is
    # copied, permanently losing it despite the "never mutates src_dir"
    # contract. Refuse before touching the filesystem.
    s = os.path.abspath(src_dir).rstrip("/")
    d = os.path.abspath(dest_dir).rstrip("/")
    if s == d or d.startswith(s + "/") or s.startswith(d + "/"):
        raise ValueError(
            f"compact dest_dir {dest_dir!r} overlaps src_dir {src_dir!r}; "
            "compaction replaces dest and must never touch src"
        )

    if min_rows is None:
        min_rows = max_rows // 2
    enc = dedup_attempts(read_encoded(spark, src_dir))
    _require_current_metrics_struct(enc, "compaction")
    undersized = (F.col("n_rows") < min_rows) & (F.col("n_values") < max_values // 2)
    # body = everything but the attempt partition column — extras-aware
    body_cols = [c for c in enc.columns if c != "attempt"]

    # dest is fully replaced up front: a prior (possibly crashed) compact's
    # attempt=2 files would survive the attempt=1 overwrite below, and the
    # re-encode would then APPEND a second copy of every merged chunk at the
    # same (chunk_id, attempt) — a duplicate dedup_attempts cannot remove
    dest_path = spark._jvm.org.apache.hadoop.fs.Path(dest_dir)
    fs = dest_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(dest_path):
        fs.delete(dest_path, True)

    kept = enc.filter(~undersized).select(*body_cols)
    kept.write.mode("overwrite").option("maxRecordsPerFile", 8).option(
        "compression", "uncompressed"
    ).parquet(f"{dest_dir}/encoded/attempt=1")
    # derive kept ids from the source predicate, not a read-back: an all-small
    # table writes zero kept files and schema inference would reject the dir
    kept_ids = enc.filter(~undersized).select("chunk_id").distinct()
    kept_lineage = (
        spark.read.parquet(f"{src_dir}/lineage")
        .filter(F.col("status") == "complete")
        .dropDuplicates(["chunk_id"])
        # no forced broadcast: a mostly-kept compaction at the 10^12-row
        # design point carries an O(#chunks) id set — AQE picks broadcast
        # while it is small and a shuffled semi-join of key-only rows past
        # that (same rule as run()'s resume anti-join)
        .join(kept_ids, "chunk_id", "left_semi")
        .withColumn("attempt", F.lit(1))
    )
    kept_lineage.write.mode("overwrite").parquet(f"{dest_dir}/lineage")

    if cfg is None:
        cfg = plan_from_encoded(spark, src_dir)
        # the inferred max_chunk_rows is the max over EXISTING chunks — on a
        # mostly-small table that would re-create small chunks; the compaction
        # target is the caller's max_rows
        cfg.max_chunk_rows = max_rows

    # per-pass salt, deterministic in the SET of chunks being merged: chunk
    # ids from this pass can never collide with kept ids from an earlier
    # compaction of the same sources (a fixed salt would), and a re-run of
    # the identical pass derives the identical ids (resume-safe)
    digest = (
        enc.filter(undersized)
        .agg(F.sum(F.xxhash64("chunk_id").cast("decimal(38,0)")).alias("d"))
        .first()["d"]
    )
    salt = f"c{int(digest or 0) % 0xFFFFFFFF:08x}"

    # persist the decoded fragments: run() aggregates them once for bucket
    # planning and again through the encode shuffle — without the cache the
    # decode UDF would pay for every undersized payload twice
    from pyspark import StorageLevel

    from .decode_job import extra_types_of

    small_seq = decode_dataframe(
        enc.filter(undersized), extra_types=extra_types_of(enc)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        run(
            spark,
            small_seq,
            dest_dir,
            cfg=cfg,
            resume=True,
            max_rows=max_rows,
            max_values=max_values,
            salt=salt,
        )
    finally:
        small_seq.unpersist()

    before = enc.agg(
        F.count("*").alias("chunks"),
        F.sum("encoded_bytes").alias("bytes"),
        F.sum(F.when(undersized, 1).otherwise(0)).alias("small"),
    ).first()
    after = (
        spark.read.parquet(f"{dest_dir}/lineage")
        .filter(F.col("status") == "complete")
        .agg(F.countDistinct("chunk_id").alias("chunks"), F.sum("encoded_bytes").alias("bytes"))
        .first()
    )
    n_small = int(before["small"] or 0)
    return {
        "chunks_before": int(before["chunks"]),
        "kept_chunks": int(before["chunks"]) - n_small,
        "merged_chunks": n_small,
        "chunks_after": int(after["chunks"]),
        "bytes_before": int(before["bytes"] or 0),
        "bytes_after": int(after["bytes"] or 0),
    }
