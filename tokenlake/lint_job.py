"""The lint job: sampled plan-only analysis — the reference's primary entry.

`parquet-linter FILE` (reference src/parquet-linter/src/lib.rs:18-46) reads
footer metadata plus one ≤16,384-row sample and emits diagnostics WITHOUT
touching the rest of the data. The engine's analog: sample a fraction of rows
*before* the chunk shuffle (mirroring the 5% ambiguous-row-group sampling of
dictionary_encoding.rs:155-172), run the stats + selector on the sample only,
and emit a decisions DataFrame (the Diagnostic analog, diagnostic.rs:55-61) —
no payload encode, no full-data pass beyond the planning aggregate.

Spark shape: `sample → assign_chunks → applyInArrow(lint_chunk)` — identical
plan skeleton to the encode job so lint decisions predict encode decisions,
but the shuffle moves only the sampled fraction.

Lifecycle parity with the reference (SURVEY.md §3.1-3.2):
    decisions = lint_job.lint(spark, df)                  # lint
    rx = lint_job.prescription_from_decisions(decisions)  # merge → DSL
    encode_job.run(spark, df, out, cfg=rx.apply())        # rewrite
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from .chunking import (
    MAX_CHUNK_ROWS,
    MAX_CHUNK_VALUES,
    assign_chunks,
    buckets_from_totals,
    chunk_id_prefix,
    plan_buckets,
)
from .plan import EncodeConfig, Prescription, plan_from_decisions
from .select import estimate_dictionary_payload_bytes
from .stats import compute_chunk_stats, extrapolate_stats

LINT_SCHEMA = (
    "chunk_id string, column string, codec string, rule string, "
    "severity string, est_bytes long, sample_rows long, sample_values long, "
    "distinct_est long, max_zz_delta long, min_val long, max_val long, "
    "cardinality_ratio double, run_ratio double, sorted_frac double, "
    "body_bytes long, outer_ratio double, dict_payload_bytes long, "
    "location string"
)
# `location` is the Diagnostic Location analog (diagnostic.rs:37-41):
# "column" = per-column-chunk decisions (Location::Column), "chunk" =
# row-group-scoped invariants from lint_lineage (Location::RowGroup);
# file-scoped outcomes surface as `set file ...` DSL directives
# (Location::File has no per-chunk row to hang on).

_OUTER_TRIAL_BYTES = 1 << 16  # bounded zstd-3 trial sample per chunk


def lint_chunk(
    t: pa.Table,
    cfg: EncodeConfig | None = None,
    fraction: float = 1.0,
    full_stats: bool = False,
) -> pa.Table:
    """Stats + selection over one chunk's sampled rows → decision rows.

    Every column's codec comes from the encoder's own decision helpers
    (`encode_job._choose_num` / `_choose_str`), so on the same rows lint
    and encode pick the same codec; they differ only through sampling.

    `fraction` is the row-sampling rate the rows arrived at; stats are
    extrapolated to full-chunk magnitudes before the cost model so that
    fixed codec costs (dict/FSST tables) amortize the way they will in the
    real encode — a 0.5% screening sample then picks the same codec a 30%
    sample does.

    `full_stats` sorts the chunk by doc_id (encode order) and computes every
    stat over the whole stream — the deterministic mode the SQL lint oracle
    replays (order-sensitive quantities like run_ratio would otherwise
    depend on shuffle arrival order)."""
    from .codecs import encode_int_column
    from .codecs.container import (
        DT_DECIMAL128,
        DT_INT32,
        _outer_compress,
        int_view_of,
        is_string_kind,
        is_wide,
    )
    from .codecs.intcodecs import INT_CODEC_IDS, encode_int_body
    from .codecs.strcodecs import STR_CODEC_IDS, encode_str_body
    from .encode_job import (
        _choose_num,
        _choose_str,
        _flat_values,
        _token_values,
        extra_columns_of,
    )
    from .select import Decision

    cfg = cfg or EncodeConfig()
    t = (t.sort_by("doc_id") if full_stats else t).combine_chunks()
    chunk_id = t.column("chunk_id")[0].as_py()
    n_rows = t.num_rows
    toks = t.column("tokens").chunk(0) if t.column("tokens").num_chunks else pa.array([], pa.list_(pa.int32()))
    # same contract as encode_chunk: null token elements are rejected
    flat = _token_values(toks.drop_null() if toks.null_count else toks)
    ntok_col = t.column("n_tok")
    lens = (
        ntok_col.drop_null() if ntok_col.null_count else ntok_col
    ).to_numpy(zero_copy_only=False).astype(np.int32)

    rows = []

    def emit(column, st, d, body, nv, elem_bytes=4):
        # the severity baseline is PLAIN at the column's true element width
        # (a 4 B constant understated 64-bit columns' savings by 2x and
        # misfiled >50% wins as suggestions)
        plain_bytes = elem_bytes * max(st.n_values, 1) if st else max(len(body), 1)
        saving = 1.0 - d.est_bytes / plain_bytes if st else 0.0
        # Severity ordering mirrors diagnostic.rs:8-12: big wins are warnings
        # (you are leaving >50% on the table), marginal ones suggestions;
        # `error` is reserved for broken invariants (lint_lineage).
        severity = "warning" if saving > 0.5 else "suggestion"
        trial = bytes(body[-_OUTER_TRIAL_BYTES:]) if len(body) > _OUTER_TRIAL_BYTES else bytes(body)
        outer_ratio = len(_outer_compress("zstd", 3, trial)) / max(len(trial), 1)
        rows.append(
            {
                "chunk_id": chunk_id,
                "column": column,
                "codec": d.codec,
                "rule": d.rule,
                "severity": severity,
                "est_bytes": int(d.est_bytes),
                "sample_rows": n_rows,
                "sample_values": nv,
                "distinct_est": int(st.distinct_est) if st else 0,
                # zigzag deltas are uint64: a full-range double bit-pattern
                # column can exceed int64 and overflow the row schema; the
                # stat only feeds bit-width comparisons, and the clamp keeps
                # width_for at 63 vs 64 — both read "delta does not pay"
                "max_zz_delta": min(int(st.max_zz_delta), (1 << 63) - 1) if st else 0,
                "min_val": int(st.min_val) if st else 0,
                "max_val": int(st.max_val) if st else 0,
                "cardinality_ratio": float(st.cardinality_ratio) if st else 1.0,
                "run_ratio": float(st.run_ratio) if st else 1.0,
                "sorted_frac": float(st.sorted_frac) if st else 1.0,
                "body_bytes": len(body),
                "outer_ratio": float(outer_ratio),
                "dict_payload_bytes": int(estimate_dictionary_payload_bytes(st)) if st else 0,
                "location": "column",
            }
        )

    for column, values, nv in (("tokens", flat, len(flat)), ("n_tok", lens, n_rows)):
        st = extrapolate_stats(compute_chunk_stats(values, n_rows, full=full_stats), fraction)
        d = _choose_num(values, st, DT_INT32, column, cfg)
        # R2 inputs: real sampled encode body + bounded zstd-3 trial ratio
        # (the reference samples one row group, column_context.rs:543)
        body = encode_int_column(values, d.codec, outer="none")
        emit(column, st, d, body, nv)

    # extra columns: the reference lints EVERY leaf column of a flat schema
    # (lib.rs:18-46 over column_context.rs:213-292); the encoder's own
    # decision helpers, stats-only depth
    for name in extra_columns_of(t.schema.names):
        arr = t.column(name)
        arr = arr.chunk(0) if arr.num_chunks else pa.array([], t.schema.field(name).type)
        # list extras lint over their FLATTENED element stream (the tokens
        # treatment generalized — stats/codec choice are element-level, the
        # lengths frame is plan-invisible)
        _, values, valid, dtype = _flat_values(arr)
        nv = len(values)
        if is_string_kind(dtype):
            codec, body, rule, trial = _choose_str(valid, dtype, name, cfg)
            if body is None:
                body = encode_str_body(STR_CODEC_IDS[codec], trial)
            emit(name, None, Decision(codec, len(body), rule), body, nv)
            continue
        view = int_view_of(valid, dtype) if len(valid) else np.empty(0, np.int32)
        st = extrapolate_stats(compute_chunk_stats(view, n_rows, full=full_stats), fraction)
        d = _choose_num(view, st, dtype, name, cfg)
        wide = is_wide(dtype)
        body = encode_int_body(INT_CODEC_IDS[d.codec], view, wide=wide)
        emit(name, st, d, body, nv,
             elem_bytes=16 if dtype == DT_DECIMAL128 else 8 if wide else 4)
    return pa.Table.from_pylist(rows)


# strided share of ambiguous chunks re-sampled at full depth
# (AMBIGUOUS_GROUP_SAMPLE_RATIO, dictionary_encoding.rs:17)
AMBIGUOUS_SAMPLE_RATIO = 0.05
# screening pass samples at this multiple of `fraction`...
CHEAP_PASS_RATIO = 0.1
# ...floored so every chunk expects at least this many sampled values — the
# reference's per-group SAMPLE_ROWS semantics (cardinality.rs:29): an NDV
# estimate from a few hundred draws inflates the cardinality ratio right past
# the ambiguous window and mis-screens dictionary-friendly chunks as NoDict
SCREEN_TARGET_VALUES = 16_384


def lint(
    spark: SparkSession,
    df: DataFrame,
    fraction: float = 0.05,
    seed: int = 42,
    cfg: EncodeConfig | None = None,
    max_rows: int = MAX_CHUNK_ROWS,
    max_values: int = MAX_CHUNK_VALUES,
    two_pass: bool = True,
    full_depth: bool = False,
) -> DataFrame:
    """Sampled plan-only lint: decisions DataFrame, ordered by severity
    (lib.rs:44 sort_by_key(severity)), then chunk id and column.

    Two-pass by default, mirroring the reference's ambiguous-group strategy
    (dictionary_encoding.rs:155-172 + flow chart :29-68): a cheap screening
    pass — per-source stratified at max(fraction×0.1, enough rows that each
    chunk sees ~SCREEN_TARGET_VALUES sampled values) — classifies every
    chunk; chunks whose cardinality ratio is CLEAR (< 0.1 ⇒ dictionary,
    > 0.5 ⇒ no dictionary) keep the screening decision, and only a strided
    5% of the AMBIGUOUS chunks (ratio in (0.1, 0.5)) are re-sampled at the
    full `fraction` — the choose_sample_row_groups stride as a hash
    threshold, `pmod(xxhash64(chunk_id), n_amb) < k`, plus the hash-min
    chunk so the deep pass never selects zero chunks. The deep pass runs
    only when some chunk needs it. On a mostly-clear corpus the lint
    therefore moves ~10× fewer sampled rows than a uniform `fraction`
    sample while emitting the same prescriptions.

    The decisions are built once, on the driver — one action each for the
    O(#sources) totals and each pass, the ambiguous chunks picked in
    Python — and come back as a local, Arrow-backed DataFrame: collecting
    it or folding it into a prescription launches no Spark job. It holds
    O(#chunks × #columns) rows of a few hundred bytes each (a 10^6-chunk,
    10-column corpus is a few GB of driver memory).

    Every decision row carries `sample_fraction` (the fraction its chunk was
    actually sampled at) so downstream size extrapolation (R2's absolute
    thresholds in prescription_from_decisions) stays unbiased across passes.
    """
    import math

    from pyspark.sql import functions as F

    from .select import DICT_ENABLE_RATIO, DICT_REJECT_RATIO

    cfg = cfg or EncodeConfig()
    mr = cfg.max_chunk_rows or max_rows
    mv = cfg.effective_max_values(max_values)

    def pass_at(sampled: DataFrame, buckets: DataFrame, fracs: dict[str, float],
                default_frac: float, only: list[str] | None = None) -> pa.Table:
        chunked = assign_chunks(sampled, buckets)
        if only is not None:
            # filter BEFORE the chunk shuffle: only selected chunks' sampled
            # rows move; everything else is dropped at the scan
            keep = spark.createDataFrame(pa.table({"chunk_id": pa.array(only, pa.string())}))
            chunked = chunked.join(F.broadcast(keep), "chunk_id", "semi")

        def fn(t: pa.Table) -> pa.Table:
            # per-source fraction captured by closure: pyspark 4.1 infers the
            # UDF eval type from the signature — keep (pa.Table) -> pa.Table
            src = t.column("source")[0].as_py() if t.num_rows else ""
            return lint_chunk(t, cfg, fraction=fracs.get(src, default_frac), full_stats=full_depth)

        d = chunked.groupBy("chunk_id").applyInArrow(fn, LINT_SCHEMA)
        if fracs:
            mapping = F.create_map(*[F.lit(x) for kv in fracs.items() for x in kv])
            frac_col = F.coalesce(mapping[chunk_id_prefix()], F.lit(float(default_frac)))
        else:
            frac_col = F.lit(float(default_frac))
        return d.withColumn("sample_fraction", frac_col).toArrow()

    if full_depth:
        # deterministic mode for the SQL oracle: every row, whole-stream
        # stats, chunks sorted in encode order — no sampling anywhere
        decisions = pass_at(df, plan_buckets(df, mr, mv), {}, 1.0)
    elif not two_pass:
        decisions = pass_at(df.sample(fraction=fraction, seed=seed), plan_buckets(df, mr, mv), {}, fraction)
    else:
        # one O(#sources) aggregate drives both the bucket plan and the
        # per-source screening fractions; it reaches the driver once and
        # goes back as a local frame, so neither pass re-runs it
        totals = df.groupBy("source").agg(
            F.count("*").alias("rows"), F.sum("n_tok").alias("values")
        ).toArrow()
        # bucket counts come from THE shared formula (buckets_from_totals —
        # the same expression plan_buckets applies in the encode path):
        # re-deriving it in driver python would drift the moment either copy
        # changed, and lint chunk ids must match encode chunk ids. Over a
        # local frame, collecting them launches no job
        buckets = buckets_from_totals(spark.createDataFrame(totals), mr, mv)
        nb = dict(buckets.collect())
        cheap_fracs = {}
        for src, values in zip(totals["source"].to_pylist(), totals["values"].to_pylist()):
            vpc = float(values or 0) / nb[src]
            f = fraction * CHEAP_PASS_RATIO
            if vpc > 0:
                f = max(f, SCREEN_TARGET_VALUES / vpc)
            cheap_fracs[src] = min(1.0, f)
        decisions = pass_at(df.sampleBy("source", cheap_fracs, seed), buckets, cheap_fracs, fraction)
        # sources whose screening pass already sampled at ≥ the deep fraction
        # gain nothing from a re-sample — for small-chunk sources the floor
        # pushes the screening fraction past `fraction`, and a deep pass at
        # the lower rate would override a better-sampled decision with a
        # noisier one
        deep_srcs = {s for s, f in cheap_fracs.items() if f < fraction}
        amb = sorted({
            cid
            for cid, ratio in zip(decisions["chunk_id"].to_pylist(), decisions["cardinality_ratio"].to_pylist())
            if DICT_ENABLE_RATIO < ratio < DICT_REJECT_RATIO and cid.rsplit("#", 1)[0] in deep_srcs
        })
        if amb:
            n_amb = len(amb)
            k = max(1, math.ceil(n_amb * AMBIGUOUS_SAMPLE_RATIO))
            # Spark's xxhash64 as a projection of a local frame (no job);
            # python's % by a positive n is pmod
            hashed = spark.createDataFrame(pa.table({"chunk_id": amb})).select(
                "chunk_id", F.xxhash64("chunk_id")
            ).collect()
            sel = {cid for cid, h in hashed if h % n_amb < k}
            sel.add(min(hashed, key=lambda r: r[1])[0])
            deep_fracs = {s: min(1.0, fraction) for s in sorted(deep_srcs)}
            deep = pass_at(
                df.sampleBy("source", deep_fracs, seed + 1),
                buckets, deep_fracs, fraction, only=sorted(sel),
            )
            # replace screening rows only for chunks the deep pass actually
            # covered: a tiny chunk can draw ZERO rows in the deep sample,
            # and dropping every selected chunk would lose its decisions
            covered = pc.is_in(decisions["chunk_id"], value_set=deep["chunk_id"].combine_chunks())
            decisions = pa.concat_tables([decisions.filter(pc.invert(covered)), deep])
    sev = decisions["severity"]
    rank = pc.if_else(pc.equal(sev, "error"), 2, pc.if_else(pc.equal(sev, "warning"), 1, 0))
    decisions = decisions.append_column("rank", rank).sort_by(
        [("rank", "descending"), ("chunk_id", "ascending"), ("column", "ascending")]
    )
    return spark.createDataFrame(decisions.drop_columns(["rank"]))


def prescription_from_decisions(decisions: DataFrame, scale: float = 1.0) -> Prescription:
    """Collapse per-chunk decisions to a per-column prescription: an
    `encoding` directive where every linted chunk of the column picked the
    same codec, plus the R2 outer-codec majority vote (outer_policy.py), the
    R10 small-pages and R1 dictionary page directives, emitted in the same
    `set column …` DSL.

    The reference prescribes each column's most frequent codec
    (most_frequent, fix.rs:196-211) because a Parquet writer takes one
    encoding per column; the encoder picks a codec per chunk, so forcing a
    majority codec would override better per-chunk choices, and a column
    whose chunks disagree is left to the encoder. R1's dictionary-page
    growth still keys on the majority codec (tie → the smaller codec name).

    Sampled body bytes are rescaled to full-data magnitudes so the
    reference's absolute size thresholds (8 MB column floor, 4 MB speed
    threshold, …) see full-corpus numbers: decisions from `lint` carry their
    own per-chunk `sample_fraction` (the two passes sample at different
    depths) and are divided by it automatically; `scale` multiplies on top
    (useful to emulate a larger corpus in tests, default 1.0 — callers no
    longer pass 1/fraction).

    Driver code: the decisions are collected once — O(#chunks × #columns)
    rows, and no Spark job on lint's local frame — and every rule is folded
    from per-column sums, the same shape as `encode_job.plan_from_encoded`.
    Directives come out by family (encoding, compression,
    data_page_size_limit, dictionary_page_size_limit, file max_chunk_rows),
    columns sorted within each."""
    from collections import Counter

    from . import outer_policy as OP
    from .plan import R10_PAGE_BYTES, Directive
    from .select import (
        DICT_PAGE_SIZE_MAX,
        DICT_PAGE_SIZE_START,
        suggested_dictionary_page_size_limit,
        suggested_max_chunk_rows,
    )

    has_frac = "sample_fraction" in decisions.columns
    cols: dict[str, dict] = {}
    for r in decisions.collect():
        f = r["sample_fraction"] if has_frac else 1.0
        b = r["body_bytes"] * float(scale) / f
        c = cols.setdefault(
            r["column"],
            {"codecs": Counter(), "n": 0, "b": 0.0, "max_b": 0.0, "b_ratio": 0.0,
             "none": 0, "lz4": 0, "zstd": 0, "values": 0, "rows": 0,
             "payload": 0, "max_rows": 0.0},
        )
        c["codecs"][r["codec"]] += 1
        vote = (
            "none" if r["outer_ratio"] > OP.RATIO_SKIP
            else "lz4" if b > OP.SPEED_THRESHOLD_BYTES else "zstd"
        )
        c["n"] += 1
        c["b"] += b
        c["max_b"] = max(c["max_b"], b)
        c["b_ratio"] += b * r["outer_ratio"]
        c[vote] += 1
        c["values"] += r["sample_values"]
        c["rows"] += r["sample_rows"]
        c["payload"] = max(c["payload"], r["dict_payload_bytes"])
        # payload estimates are full-chunk magnitudes (lint_chunk extrapolates
        # stats), so R1's current-rows input must be full-chunk too — raw
        # sample_rows would shrink ~fraction× more than needed
        c["max_rows"] = max(c["max_rows"], r["sample_rows"] / f)
    for c in cols.values():
        # most chunks first, then the smaller codec name
        c["codec"] = min(c["codecs"].items(), key=lambda kv: (-kv[1], kv[0]))[0]

    rx = plan_from_decisions(
        [{"column": k, "codec": c["codec"]} for k, c in sorted(cols.items()) if len(c["codecs"]) == 1]
    )
    for k, c in sorted(cols.items()):
        kind, is_text = OP.COLUMN_KINDS.get(k, (None, None))
        v = OP.decide(
            c["n"], float(c["b"]), float(c["max_b"]),
            c["b_ratio"] / c["b"] if c["b"] else 1.0,
            c["lz4"], c["zstd"], column=k, kind=kind, is_text=is_text,
        )
        if v is not None:
            rx.directives.append(Directive("column", k, "compression", v))

    # R10 vector-embedding page-size (vector_embedding.rs:19-76): a list
    # extra averaging ≥ 64 values/row gets the small-pages directive — a
    # per-column data_page_size_limit the encoder turns into intra-chunk
    # FLAG_BLOCKED blocks, so point lookups decode O(doc) bytes. Fanout is
    # read off the decisions' own (sample_values, sample_rows); a scalar
    # column can never reach 64× rows, so the threshold implies list-ness.
    # `tokens` is excluded by design: its flat stream is offset-addressed
    # through n_tok, not block-indexed (engine divergence, documented).
    for k, c in sorted(cols.items()):
        if k != "tokens" and c["values"] / max(c["rows"], 1) >= 64:
            rx.directives.append(
                Directive("column", k, "data_page_size_limit", str(R10_PAGE_BYTES))
            )

    # R1 growth flow (dictionary_encoding.rs:155-240): where dictionary wins
    # but its table would overflow the 2 MB starting page, grow the page limit
    # (2 MB doubling ≤16 MB); if even 16 MB can't hold it, shrink chunks
    # instead. NDV-based payloads don't scale linearly with the sample, so
    # the sampled maximum is used as-is (growth is by powers of two anyway).
    # A file-level max_chunk_rows shrink folds MIN across columns: apply()'s
    # last-wins would otherwise keep the lexicographically last overflower's
    # (looser) shrink and leave the tighter column's dictionary still over
    # the page cap at encode time.
    min_shrink: int | None = None
    for k, c in sorted(cols.items()):
        payload = int(c["payload"])
        if c["codec"] not in ("dict", "str_dict") or payload <= DICT_PAGE_SIZE_START:
            continue
        limit = suggested_dictionary_page_size_limit(payload)
        if limit is None:
            shrink = suggested_max_chunk_rows(int(c["max_rows"]), payload, DICT_PAGE_SIZE_MAX)
            min_shrink = shrink if min_shrink is None else min(min_shrink, shrink)
            limit = DICT_PAGE_SIZE_MAX
        rx.directives.append(Directive("column", k, "dictionary_page_size_limit", str(limit)))
    if min_shrink is not None:
        rx.directives.append(Directive("file", None, "max_chunk_rows", str(min_shrink)))
    return rx


def lint_encoded(spark: SparkSession, out_dir: str) -> DataFrame:
    """R1's EVIDENCE tier over an already-encoded table (reference
    dictionary_encoding.rs:274-310: classify Dict/Fallback/NoDict from the
    ACTUAL page-header encodings before any sampling): the engine's stored
    chunk metrics carry each column chunk's real codec and exact-or-scaled
    NDV, so the classification reads evidence, not samples — a metrics-only
    scan, zero payload bytes touched.

    Per (chunk, column) with an int-family codec:
    - stored codec dict + cardinality ratio > 0.5      → `disable-dictionary`
      (warning: the table outgrew its dictionary; reference flow :29-68)
    - stored codec non-dict + ratio < 0.1              → `enable-dictionary`
      (warning: R1's enable threshold says the table would pay)
    - stored dict whose est. table > 16 MB             → `dictionary-overflow`
      (suggestion: shrink chunks / raise page limit — the Fallback arm)
    - otherwise                                        → `ok` (suggestion)

    Chunks written with `statistics none` have blanked NDV (distinct_est=0
    with values present) and classify as `no-evidence` — the reference's
    fall-back-to-sampling arm; run the sampled `lint` on the decoded rows
    for those. Decision rows are column-located like lint()'s.

    A COMPRESSION tier (round 6) rides the same metrics scan — the R2/R3
    analogs over stored evidence (compression_codec.rs:68-85 conditions
    applied to what the table actually stores, not samples):
    - stored outer 'none' whose recorded `outer_trial_ratio` (the bounded
      zstd tail-sample trial the encoder ran at write time) is below the
      keep threshold                         → `enable-compression` (warning)
    - stored outer ≠ 'none' whose whole-pipeline ratio encoded/raw > 0.95
      (the general-purpose layer isn't buying the 5% R3 demands — only a
      FORCED outer can store this shape; auto keeps a codec only when it
      pays)                                  → `disable-compression` (warning)
    Compression rows are EXTRA rows (a column can carry both a dictionary
    and a compression verdict); their `cardinality_ratio` column carries
    the byte/trial ratio that fired the rule. Pre-round-6 tables have no
    stored trial → no enable verdicts (no evidence, never a guess)."""
    from pyspark.sql import functions as F

    from .codecs.container import OUTER_KEEP_RATIO
    from .decode_job import table_meta
    from .encode_job import column_metrics
    from .outer_policy import RATIO_SKIP
    from .select import DICT_ENABLE_RATIO, DICT_PAGE_SIZE_MAX, DICT_REJECT_RATIO

    m = column_metrics(table_meta(spark, out_dir).pruned())
    int_kind = (
        F.col("dtype").isin(
            "int", "bigint", "smallint", "tinyint",
            "timestamp_ntz", "timestamp", "date", "time(6)",
            # scalar floats ride the int-carrier too (bit pattern): dict is
            # a legal stored codec for them, so they get verdicts like
            # their array<float|double> forms always did
            "float", "double",
        )
        | F.col("dtype").startswith("array<")
        | F.col("dtype").startswith("decimal")  # unscaled-int64 carrier
    )
    is_dict = F.col("codec") == "dict"
    # list-granularity columns (tokens / array extras) count VALUES in
    # n_values but null ROWS in null_count — null rows contribute zero
    # values already, so the denominator must not subtract them (mixed
    # units; round-4 advice). Their all-null signature is n_values == 0
    # with null rows present.
    is_list = F.col("dtype").startswith("array<")
    all_null = F.when(
        is_list, (F.col("n_values") == 0) & (F.col("null_count") > 0)
    ).otherwise((F.col("n_values") == F.col("null_count")) & (F.col("n_values") > 0))
    empty = F.col("n_values") == 0
    denom = F.when(is_list, F.col("n_values")).otherwise(
        F.col("n_values") - F.col("null_count")
    )
    has_stats = (F.col("distinct_est") > 0) | all_null | empty
    ratio = F.col("distinct_est") / F.greatest(denom, F.lit(1))
    # estimate_dictionary_payload_bytes: entry width follows the stored
    # dtype — 16 B for decimal128 (precision > 18), 8 B for the wide int
    # family, 4 B otherwise (a 4 B estimate fires the overflow arm 2× late
    # for bigint/timestamp extras)
    deci_precision = F.regexp_extract(F.col("dtype"), r"decimal\((\d+),", 1)
    entry_bytes = F.when(
        (deci_precision != "") & (deci_precision.cast("int") > 18), F.lit(16)
    ).when(
        F.col("dtype").isin(
            "bigint", "timestamp_ntz", "timestamp", "time(6)", "double",
            "array<bigint>", "array<timestamp_ntz>", "array<timestamp>",
            "array<time(6)>", "array<double>",
        )
        | F.col("dtype").startswith("decimal")
        | F.col("dtype").startswith("array<decimal"),
        F.lit(8),
    ).otherwise(F.lit(4))
    table_bytes = F.col("distinct_est") * entry_bytes * 1.25
    rule = (
        F.when(all_null | empty, F.lit("ok"))
        .when(~has_stats, F.lit("no-evidence"))
        .when(is_dict & (ratio > DICT_REJECT_RATIO), F.lit("disable-dictionary"))
        .when(~is_dict & (ratio < DICT_ENABLE_RATIO), F.lit("enable-dictionary"))
        .when(is_dict & (table_bytes > DICT_PAGE_SIZE_MAX), F.lit("dictionary-overflow"))
        .otherwise(F.lit("ok"))
    )
    base = m.filter(int_kind).select(
        "chunk_id",
        "column",
        "codec",
        rule.alias("rule"),
        F.when(rule.isin("disable-dictionary", "enable-dictionary"), F.lit("warning"))
        .otherwise(F.lit("suggestion"))
        .alias("severity"),
        F.round(ratio, 6).alias("cardinality_ratio"),
        F.col("distinct_est"),
        F.col("n_values"),
        F.lit("column").alias("location"),
    )
    # compression tier: flagged rows only (every column kind qualifies —
    # the outer layer is codec-agnostic), unioned under the same schema
    comp_rule = F.when(
        (F.col("outer") != "none")
        & (F.col("raw_bytes") > 0)
        & (F.col("encoded_bytes") > RATIO_SKIP * F.col("raw_bytes")),
        F.lit("disable-compression"),
    ).when(
        (F.col("outer") == "none")
        & (F.col("outer_trial_ratio") > 0)
        & (F.col("outer_trial_ratio") < OUTER_KEEP_RATIO),
        F.lit("enable-compression"),
    )
    comp = m.filter(comp_rule.isNotNull()).select(
        "chunk_id",
        "column",
        "codec",
        comp_rule.alias("rule"),
        F.lit("warning").alias("severity"),
        F.round(
            F.when(F.col("outer") == "none", F.col("outer_trial_ratio")).otherwise(
                F.col("encoded_bytes") / F.greatest(F.col("raw_bytes"), F.lit(1))
            ),
            6,
        ).alias("cardinality_ratio"),
        F.col("distinct_est"),
        F.col("n_values"),
        F.lit("column").alias("location"),
    )
    return base.unionByName(comp)


def lint_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Invariant lint over an encoded table: `error`-severity decisions for
    chunks whose lineage row is missing/incomplete or whose recorded
    fingerprint disagrees with the encoded metrics (the R8
    missing-page-statistics analog on the engine's own format,
    page_statistics.rs:13-51; Severity::Error, diagnostic.rs:8-12). Rows are
    chunk-located — the Location::RowGroup analog (diagnostic.rs:37-41)."""
    from pyspark.sql import functions as F

    from .encode_job import LINEAGE_SCHEMA

    enc = (
        spark.read.parquet(f"{out_dir}/encoded")
        .select("chunk_id", "input_fingerprint")
        .distinct()
    )
    lin = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(f"{out_dir}/lineage")
        .filter(F.col("status") == "complete")
        .select("chunk_id", F.col("input_fingerprint").alias("lin_fp"))
        .distinct()
    )
    j = enc.join(lin, "chunk_id", "left")
    return j.select(
        "chunk_id",
        F.when(F.col("lin_fp").isNull(), F.lit("lineage-missing"))
        .when(F.col("lin_fp") != F.col("input_fingerprint"), F.lit("lineage-fingerprint-mismatch"))
        .otherwise(F.lit("ok"))
        .alias("rule"),
    ).select(
        "chunk_id",
        "rule",
        F.when(F.col("rule") == "ok", F.lit("suggestion")).otherwise(F.lit("error")).alias("severity"),
        F.lit("chunk").alias("location"),
    )


def has_warnings_or_errors(decisions: DataFrame) -> bool:
    """Gate for CI-style lint runs (reference has_warnings_or_errors,
    lib.rs:48-52; the CLI exits 1 on it, cli/main.rs:131-133)."""
    from pyspark.sql import functions as F

    return (
        decisions.filter(F.col("severity").isin("warning", "error")).limit(1).count() > 0
    )
