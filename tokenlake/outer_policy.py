"""R2 `compression-codec-upgrade` as a per-column majority vote over
per-chunk trial metrics — the reference's full condition set, not a single
byte threshold.

Provenance (src/parquet-linter/src/rules/compression_codec.rs):
- ratio > 0.95 ⇒ upgrading is pointless (:68-85, shared with R3)
- column total < 8 MB ⇒ not worth a rewrite (:8-20 MIN_COLUMN_BYTES)
- a single row group > 32 MB ⇒ leave it (rewrite cost dominates, :8-20)
- SNAPPY chunk > 4 MB ⇒ LZ4 for decode speed; else ZSTD(3) for size (:125-180)
- special case: ≥64 small (≤1 MB) byte-array chunks totaling ≥64 MB with
  ratio ∈ [0.55, 0.85] ⇒ LZ4 (:94-123)
- majority vote across chunks picks LZ4 vs ZSTD for the column (:247-264)

The per-chunk inputs come from the sampled lint pass (lint_job emits each
chunk's encoded body size and a bounded zstd-3 trial ratio); the vote and the
aggregates are computed in Spark (one groupBy("column")), so only one row per
column reaches the driver. `decide` is the pure policy over those aggregates
— unit-testable against the reference's own test scenarios.

Caveat for `compression none`: the encoded table is written as
UNCOMPRESSED parquet (payloads are already codec + outer compressed), so a
payload whose outer is "none" — forced by a `set [column C] compression
none` directive, or declined by `auto` on a small or incompressible body —
is stored raw, with no snappy layer underneath. Forcing "none" on
compressible data therefore inflates the encoded table.
"""

from __future__ import annotations

RATIO_SKIP = 0.95                  # > 0.95 ⇒ general-purpose layer can't help
MIN_COLUMN_BYTES = 8 << 20         # column floor: below this, keep as-is
MAX_SINGLE_CHUNK_BYTES = 32 << 20  # one huge chunk: leave it
SPEED_THRESHOLD_BYTES = 4 << 20    # big chunks vote LZ4 (speed role)
SMALL_CHUNK_BYTES = 1 << 20        # "small chunk" for the special case
SMALL_CHUNK_MIN_COUNT = 64
SMALL_CHUNK_MIN_TOTAL = 64 << 20
SMALL_RATIO_LO, SMALL_RATIO_HI = 0.55, 0.85
# text columns need real volume before an LZ4 rewrite pays
# (MIN_TEXT_BYTES_FOR_LZ4_UPGRADE, compression_codec.rs:11)
MIN_TEXT_BYTES_FOR_LZ4 = 32 << 20

# The engine schema's column kinds: (physical kind, carries-text logical
# marker). `tokens` is INT32 physically but IS tokenized text — the analog of
# parquet INT32 + LogicalType::String; `n_tok` is a pure numeric length.
COLUMN_KINDS: dict[str, tuple[str, bool]] = {
    "tokens": ("int32", True),
    "n_tok": ("int32", False),
    "doc_id": ("str", True),
    "source": ("str", True),
}


def supports_zstd_upgrade_by_kind(kind: str, is_text: bool) -> bool:
    """Type gate for ZSTD upgrades (supports_zstd_upgrade_by_type,
    compression_codec.rs:68-85): byte-array columns always qualify; int
    columns only when their logical type marks text (String/Json/Bson/Enum
    in the reference); float/bool never (the general-purpose layer rarely
    pays on raw numerics that the inner encodings already squeezed)."""
    if kind in ("str", "binary"):
        return True
    if kind in ("int32", "int64"):
        return is_text
    return False


def looks_text_column(is_text: bool, column: str) -> bool:
    """Name/type heuristic for text-bearing columns (looks_text_column,
    string_encoding.rs:45-55): a text logical marker wins; otherwise any name
    not containing bytes/embedding/image is presumed text."""
    if is_text:
        return True
    c = column.lower()
    return not ("bytes" in c or "embedding" in c or "image" in c)


def chunk_vote(body_bytes: float, trial_ratio: float) -> str:
    """One chunk's vote: none (incompressible) / lz4 (speed) / zstd (size).
    Mirrored as a Spark CASE WHEN in lint_job's column aggregate."""
    if trial_ratio > RATIO_SKIP:
        return "none"
    if body_bytes > SPEED_THRESHOLD_BYTES:
        return "lz4"
    return "zstd(3)"


def decide(
    n_chunks: int,
    total_bytes: float,
    max_chunk_bytes: float,
    weighted_ratio: float,
    lz4_votes: int,
    zstd_votes: int,
    column: str = "",
    kind: str | None = None,
    is_text: bool | None = None,
) -> str | None:
    """Column-level outer-codec decision from chunk-vote aggregates.

    `kind`/`is_text` add the reference's type/name gates
    (compression_codec.rs:199-231): int columns without a text logical marker
    never get a ZSTD directive, text columns below 32 MB never get an LZ4
    one, and the many-small-chunks band applies only to text-looking columns.
    `kind=None` (type unknown) skips the gates — the reference's fallback
    when a column carries no type evidence.

    Returns a prescription `compression` value ('lz4', 'zstd(3)',
    'uncompressed') or None = no directive (keep the encode default).
    """
    if n_chunks == 0:
        return None
    if total_bytes < MIN_COLUMN_BYTES:
        return None  # below the rewrite floor nothing is prescribed at all
    if weighted_ratio > RATIO_SKIP:
        return "uncompressed"  # R3: nothing to gain, skip the outer layer
    if n_chunks == 1 and max_chunk_bytes > MAX_SINGLE_CHUNK_BYTES:
        return None
    if (
        n_chunks >= SMALL_CHUNK_MIN_COUNT
        and max_chunk_bytes <= SMALL_CHUNK_BYTES
        and total_bytes >= SMALL_CHUNK_MIN_TOTAL
        and SMALL_RATIO_LO <= weighted_ratio <= SMALL_RATIO_HI
        # with a KNOWN kind the text marker decides; the name heuristic
        # (looks_text_column) is only for columns with no type evidence —
        # falling back to it for a known int column fired the text band on
        # n_tok, prescribing the exact rewrite the type gates below prevent
        and (bool(is_text) if kind is not None else looks_text_column(False, column))
    ):
        return "lz4"  # many-small-chunks text band
    if lz4_votes == 0 and zstd_votes == 0:
        return "uncompressed"  # every chunk voted incompressible
    if kind is not None:
        if not supports_zstd_upgrade_by_kind(kind, bool(is_text)):
            zstd_votes = 0
        if is_text and total_bytes < MIN_TEXT_BYTES_FOR_LZ4:
            lz4_votes = 0
        if lz4_votes == 0 and zstd_votes == 0:
            return None  # votes existed but the type gates vetoed both
    return "lz4" if lz4_votes >= zstd_votes else "zstd(3)"  # majority vote
