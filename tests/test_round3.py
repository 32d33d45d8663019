"""Round-3 additions: reference-DSL encoding aliases, X1 statistics/chunk-cap
inference, R2 type/name gates, simhash corpus-scale defaults, two-pass strided
lint, watermark-bounded streaming dedup."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tokenlake import encode_job, lint_job, outer_policy, textops
from tokenlake.plan import Prescription
from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences


# ------------------------------------------ reference DSL encoding names

def test_reference_encoding_names_parse_and_apply():
    """A prescription written in the REFERENCE's own encoding vocabulary
    (prescription.rs:624-636) parses, maps to engine analogs, and
    round-trips (SURVEY.md §2.5 'identical text syntax')."""
    rx = Prescription.parse(
        "set column tokens encoding delta_binary_packed\n"
        "set column n_tok encoding byte_stream_split\n"
        "set column doc_id encoding delta_length_byte_array\n"
        "set column source encoding plain\n"
    )
    cfg = rx.apply()
    assert cfg.overrides["tokens"] == "delta"
    # round 4: byte_stream_split maps to the REAL bss codec (no longer the
    # bit-plane FOR approximation)
    assert cfg.overrides["n_tok"] == "bss"
    assert cfg.overrides["doc_id"] == "str_plain"
    assert cfg.overrides["source"] == "plain"
    # round-trip: format() emits engine names that re-parse to the same config
    again = Prescription.parse(rx.format()).apply()
    assert again.overrides == cfg.overrides


def test_delta_byte_array_alias_and_unknown_encoding_rejected():
    # round 4: delta_byte_array maps to the real front-coding codec
    assert (
        Prescription.parse("set column doc_id encoding delta_byte_array")
        .apply()
        .overrides["doc_id"]
        == "str_prefix"
    )
    with pytest.raises(Exception):
        Prescription.parse("set column tokens encoding rle_dictionary")


# ------------------------------------------ X1: stats level + chunk caps

def test_plan_from_encoded_recovers_stats_none_and_chunk_caps(spark, tmp_path):
    """fix.rs:95-103 + :139-166 parity: a table built with `statistics none`
    and a custom max_chunk_rows survives an inferred re-encode — the
    statistics stay blanked and chunks stay within the original cap."""
    tbl = generate_sequences(scale=0.01, profiles=["lowcard", "runs"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    cfg0 = Prescription.parse(
        "set file max_chunk_rows 200\n"
        "set column tokens statistics none\n"
        "set column doc_id statistics none\n"
    ).apply()
    encode_job.run(spark, df, out_a, cfg=cfg0)

    # lineage-lint rows are chunk-located (Location::RowGroup analog)
    lin = lint_job.lint_lineage(spark, out_a)
    assert {r["location"] for r in lin.limit(5).collect()} == {"chunk"}

    inferred = encode_job.plan_from_encoded(spark, out_a)
    assert inferred.stats_for("tokens") == "none"
    assert inferred.stats_for("doc_id") == "none"
    assert inferred.stats_for("n_tok") == "chunk"  # untouched column keeps default
    assert inferred.max_chunk_rows is not None and inferred.max_chunk_rows <= 200

    # re-encode with an unrelated overlay; the blanked stats + cap carry over
    cfg1 = Prescription.parse("set column source compression zlib(6)").apply(base=inferred)
    encode_job.run(spark, df, out_b, cfg=cfg1)
    enc_b = spark.read.parquet(f"{out_b}/encoded")
    assert enc_b.agg(F.max("n_rows")).first()[0] <= 200
    assert enc_b.filter(F.col("doc_id_max") != "").count() == 0  # still blanked
    tok_ndv = (
        encode_job.column_metrics(enc_b)
        .filter(F.col("column") == "tokens")
        .agg(F.max("distinct_est"))
        .first()[0]
    )
    assert tok_ndv == 0


def test_plan_from_encoded_infers_page_level_from_bloom(spark, tmp_path):
    """Bloom presence ⇒ the engine's page-analog statistics level
    (fix.rs:157-160: column_index present ⇒ EnabledStatistics::Page)."""
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out = str(tmp_path / "p")
    cfg0 = Prescription.parse("set column tokens bloom_filter true").apply()
    encode_job.run(spark, df, out, cfg=cfg0)
    inferred = encode_job.plan_from_encoded(spark, out)
    assert inferred.stats_for("tokens") == "page"
    assert inferred.bloom_for("tokens") is not None


# ------------------------------------------ R2 type/name gates
# test names mirror the reference's own scenarios (compression_codec.rs:305-389
# + supports_zstd_upgrade_by_type :68-85, looks_text_column
# string_encoding.rs:45-55)

def test_supports_zstd_upgrade_by_type_matrix():
    assert outer_policy.supports_zstd_upgrade_by_kind("str", False)      # BYTE_ARRAY
    assert outer_policy.supports_zstd_upgrade_by_kind("binary", False)
    assert outer_policy.supports_zstd_upgrade_by_kind("int32", True)     # INT32+String
    assert not outer_policy.supports_zstd_upgrade_by_kind("int32", False)
    assert not outer_policy.supports_zstd_upgrade_by_kind("float", True)  # FLOAT never
    assert not outer_policy.supports_zstd_upgrade_by_kind("bool", True)


def test_looks_text_column_name_heuristic():
    assert outer_policy.looks_text_column(True, "embedding")  # logical marker wins
    assert outer_policy.looks_text_column(False, "title")
    assert not outer_policy.looks_text_column(False, "embedding_vec")
    assert not outer_policy.looks_text_column(False, "image_bytes")
    assert not outer_policy.looks_text_column(False, "raw_bytes")


def test_zstd_gate_vetoes_plain_int_column():
    """INT32 without a text logical type never gets a ZSTD directive
    (supports_zstd_upgrade_by_type: INT32 requires String/Json/Bson/Enum)."""
    got = outer_policy.decide(
        16, 16 << 20, 1 << 20, 0.5, 0, 16, column="n_tok", kind="int32", is_text=False
    )
    assert got is None
    # same aggregates, untyped (gates skipped) → the majority vote stands
    assert outer_policy.decide(16, 16 << 20, 1 << 20, 0.5, 0, 16) == "zstd(3)"


def test_text_column_below_32mb_gets_no_lz4():
    """MIN_TEXT_BYTES_FOR_LZ4_UPGRADE: text columns need ≥32 MB before an
    LZ4 rewrite pays (compression_codec.rs:225-229)."""
    got = outer_policy.decide(
        4, 24 << 20, 6 << 20, 0.6, 4, 0, column="tokens", kind="int32", is_text=True
    )
    assert got is None
    got = outer_policy.decide(
        8, 48 << 20, 6 << 20, 0.6, 8, 0, column="tokens", kind="int32", is_text=True
    )
    assert got == "lz4"


def test_many_small_chunk_band_requires_text_looking_column():
    """prefer_lz4_for_many_small_snappy_byte_array_chunks requires
    BYTE_ARRAY (compression_codec.rs:94-123) — the engine analog gates on
    looks_text_column."""
    n = 128  # ≥64 small (≤1 MB) chunks totaling ≥64 MB, ratio in [0.55, 0.85]
    total = 80 << 20
    got_text = outer_policy.decide(
        n, total, 1 << 20, 0.7, 0, n, column="tokens", kind="str", is_text=True
    )
    assert got_text == "lz4"
    got_blob = outer_policy.decide(
        n, total, 1 << 20, 0.7, 0, n, column="embedding_bytes", kind="str", is_text=False
    )
    assert got_blob == "zstd(3)"  # band skipped; zstd majority (str supports it)


# ------------------------------------------ simhash corpus-scale defaults

def test_simhash_hot_bucket_guard_drops_degenerate_buckets(spark):
    """Hundreds of identical docs land in one (band, value) bucket; with the
    hot-bucket cap they contribute ZERO candidate pairs instead of O(n²)."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(300),
                "text": ["common boilerplate header text"] * 298
                + ["a genuinely unique document about spark encodings"] * 2,
            }
        )
    )
    cand = textops.simhash_candidates(docs, max_bucket=50)
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (298, 299) in pairs  # the planted near-dup survives
    assert all(a >= 298 for a, _ in pairs)  # boilerplate bucket dropped


# ------------------------------------------ two-pass strided lint

def test_two_pass_lint_same_prescription_fewer_sampled_rows(spark):
    """The strided screening lint must emit the same prescription as the
    uniform single-pass lint while sampling measurably fewer rows
    (choose_sample_row_groups, dictionary_encoding.rs:155-172)."""
    tbl = generate_sequences(
        scale=0.05, profiles=["lowcard", "sorted_ts", "random"], skew=False
    )
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    df.cache().count()
    d2 = lint_job.lint(spark, df, fraction=0.3).cache()
    d1 = lint_job.lint(spark, df, fraction=0.3, two_pass=False).cache()
    rx2 = lint_job.prescription_from_decisions(d2).format()
    rx1 = lint_job.prescription_from_decisions(d1).format()
    assert rx1 == rx2
    sampled2 = d2.filter(F.col("column") == "tokens").agg(F.sum("sample_values")).first()[0]
    sampled1 = d1.filter(F.col("column") == "tokens").agg(F.sum("sample_values")).first()[0]
    assert sampled2 < sampled1 / 3  # screening pass moves ~10× fewer rows
    for d in (d1, d2):
        d.unpersist()
    df.unpersist()


def test_lint_decisions_are_column_located(spark):
    """Location analog (diagnostic.rs:37-41): per-column-chunk decisions are
    Location::Column; chunk-scoped invariants (lint_lineage) are RowGroup."""
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    d = lint_job.lint(spark, df, fraction=0.3)
    assert {r["location"] for r in d.collect()} == {"column"}


def test_lint_chunk_extrapolation_is_sample_size_invariant(spark):
    """A 3% sample and a 30% sample of the same chunk must pick the same
    codec: fixed table costs (dict/FSST) amortize at full-chunk magnitudes
    (stats.extrapolate_stats)."""
    tbl = generate_sequences(scale=0.05, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    codecs = {}
    for frac in (0.03, 0.3):
        d = lint_job.lint(spark, df, fraction=frac, two_pass=False)
        codecs[frac] = {
            r["chunk_id"].split("#")[0]
            for r in d.filter(F.col("column") == "tokens").collect()
            if r["codec"] == "dict"
        }
    assert codecs[0.03] == codecs[0.3] == {"lowcard"}


# ------------------------------------------ watermark-bounded streaming dedup

def test_dedup_stream_within_watermark_bounds_state(spark, tmp_path):
    import json
    import os

    import pyarrow.parquet as pq

    from tokenlake import streaming

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inp)
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    pq.write_table(tbl, os.path.join(inp, "a.parquet"))
    q = streaming.dedup_stream(spark, inp, out, within_watermark="1 hour")
    q.awaitTermination(180)
    ops = {
        s["operatorName"]
        for p in q.recentProgress
        for s in json.loads(p.json).get("stateOperators", [])
    }
    assert ops == {"dedupeWithinWatermark"}, ops
    n_hash = (
        spark.createDataFrame(tbl.to_pandas(), SEQUENCES_SPARK_SCHEMA)
        .select(F.md5(F.col("tokens").cast("string")))
        .distinct()
        .count()
    )
    assert spark.read.parquet(f"{out}/deduped").count() == n_hash


# ------------------------------------------ projected decode (S3 on decode)

def test_projected_decode_matches_full_and_prunes_scan(spark, tmp_path):
    """decode(columns=...) must return exactly the projection of the full
    decode AND its executed plan must scan only the payload columns those
    outputs need — at 10^12 rows a tokens-only reader cannot afford the
    doc_id/source byte streams."""
    from tokenlake import decode_job

    tbl = generate_sequences(scale=0.01, profiles=["lowcard", "runs"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out = str(tmp_path / "proj")
    encode_job.run(spark, df, out)

    full = decode_job.decode(spark, out).select("doc_id", "n_tok").orderBy("doc_id")
    proj = decode_job.decode(spark, out, columns=["doc_id", "n_tok"]).orderBy("doc_id")
    assert proj.columns == ["doc_id", "n_tok"]
    assert [r.asDict() for r in proj.collect()] == [r.asDict() for r in full.collect()]

    plan = proj._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for l in scans:
        assert "payload_tokens" not in l, l
        assert "payload_source" not in l, l

    # tokens projection pulls n_tok payload for offsets but not the strings
    tok = decode_job.decode(spark, out, columns=["tokens"])
    assert tok.columns == ["tokens"]
    tplan = tok._jdf.queryExecution().executedPlan().toString()
    tscan = [l for l in tplan.splitlines() if "ReadSchema" in l]
    for l in tscan:
        assert "payload_doc_id" not in l and "payload_source" not in l, l
    assert tok.count() == df.count()

    with pytest.raises(ValueError):
        decode_job.decode_dataframe(
            spark.read.parquet(f"{out}/encoded"), columns=["nope"]
        )


# ------------------------------------------ multi-band LSH recall

def test_lsh_multiband_candidates_superset_of_single_band(spark):
    """Multi-band candidates (any of b bands collides) must cover every
    single-band bucket and catch near-dups the mh0 band alone misses;
    P(candidate | jaccard s) = 1-(1-s)^b vs s for one band."""
    import pandas as pd

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(30):
        rows.append({"doc_id": str(i), "text": f"{base} doc{i} unique{i} tail{i}"})
        # planted near-dup: same prefix, one differing tail word
        rows.append({"doc_id": str(100 + i), "text": f"{base} doc{i} unique{i} tailX{i}"})
    docs = spark.createDataFrame(pd.DataFrame(rows))

    single_docs = set()
    sb = textops.lsh_buckets(docs).collect()
    for r in sb:
        single_docs.add((r["min_doc"], r["max_doc"]))
    multi = textops.lsh_candidate_buckets(docs).collect()
    multi_pairs = {(r["min_doc"], r["max_doc"]) for r in multi}
    band0_pairs = {(r["min_doc"], r["max_doc"]) for r in multi if r["band"] == 0}
    assert single_docs == band0_pairs  # band 0 of the multi run ≡ legacy single band
    assert len(multi_pairs) >= len(single_docs)
    # every planted pair collides on at least one band
    planted_hit = 0
    in_bucket = {}
    for r in multi:
        in_bucket.setdefault((r["band"], r["bucket"]), set())
    # recompute membership from signatures for the planted-pair check
    sig = textops.minhash_signatures(docs, 4).collect()
    by_doc = {r["doc_id"]: [r[f"mh{i}"] for i in range(4)] for r in sig}
    for i in range(30):
        a, b = by_doc[i], by_doc[100 + i]
        if any(x == y for x, y in zip(a, b)):
            planted_hit += 1
    assert planted_hit >= 25, planted_hit  # near-dups collide on ≥1 of 4 bands


# ------------------------------------------ CLI decode + verify lifecycle

def test_cli_decode_and_verify_gate(spark, tmp_path, capsys):
    """`decode` materializes sequences (optionally projected) and `verify`
    is the bit-identity CI gate: exit 0 on a clean roundtrip, exit 1 when
    the reference disagrees with the decode."""
    import json as _json

    from tokenlake import cli

    tbl = generate_sequences(scale=0.01, profiles=["lowcard", "runs"], skew=False)
    in_p = str(tmp_path / "seq.parquet")
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    df.write.parquet(in_p)
    enc = str(tmp_path / "enc")
    assert cli.main(["rewrite", in_p, "-o", enc, "--fraction", "0.5"], spark=spark) == 0
    capsys.readouterr()

    out_full = str(tmp_path / "dec_full")
    assert cli.main(["decode", enc, "-o", out_full], spark=spark) == 0
    info = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["rows"] == df.count()
    assert set(info["columns"]) == {"doc_id", "tokens", "n_tok", "source"}

    out_proj = str(tmp_path / "dec_proj")
    assert cli.main(
        ["decode", enc, "-o", out_proj, "--columns", "doc_id,n_tok"], spark=spark
    ) == 0
    info = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["columns"] == ["doc_id", "n_tok"]
    assert spark.read.parquet(out_proj).columns == ["doc_id", "n_tok"]

    # clean roundtrip gates green, digest and exact
    assert cli.main(["verify", in_p, enc], spark=spark) == 0
    assert cli.main(["verify", in_p, enc, "--exact"], spark=spark) == 0
    # a corrupted reference (one doc_id dropped) must gate red
    bad_ref = str(tmp_path / "bad.parquet")
    df.filter(F.col("doc_id") != df.select("doc_id").first()[0]).write.parquet(bad_ref)
    capsys.readouterr()
    assert cli.main(["verify", bad_ref, enc], spark=spark) == 1
    result = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["pass"] is False


# ------------------------------------------ chunk compaction

def test_compact_merges_small_chunks_and_preserves_kept_payloads(spark, tmp_path):
    """compact() must (a) merge undersized chunks into R7-sized ones,
    (b) copy kept chunks byte-identically without decoding them, (c) keep the
    whole table bit-identical through the rewrite, and (d) leave a lineage
    that lints clean."""
    from tokenlake import decode_job
    from tokenlake.verify import verify_bit_identical

    # mixed table: one source encoded at a tiny row cap (streaming-like
    # fragments), another at a generous cap (healthy chunks)
    small_tbl = generate_sequences(scale=0.01, profiles=["runs"], skew=False)
    big_tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    src = str(tmp_path / "src")
    small_df = spark.createDataFrame(small_tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    big_df = spark.createDataFrame(big_tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    encode_job.run(spark, small_df, src, max_rows=32)
    encode_job.run(spark, big_df, src, max_rows=1 << 16)

    enc = decode_job.table_meta(spark, src).pruned()
    n_small = enc.filter(F.col("n_rows") < 100).count()
    n_kept = enc.filter(F.col("n_rows") >= 100).count()
    assert n_small >= 4 and n_kept >= 1

    dest = str(tmp_path / "dest")
    s = encode_job.compact(spark, src, dest, min_rows=100, max_rows=1 << 16)
    assert s["merged_chunks"] == n_small and s["kept_chunks"] == n_kept
    assert s["chunks_after"] < s["chunks_before"]

    # kept chunk payloads byte-identical (never decoded)
    kept_src = {
        r["chunk_id"]: r["payload_tokens"]
        for r in enc.filter(F.col("n_rows") >= 100).select("chunk_id", "payload_tokens").collect()
    }
    kept_dst = {
        r["chunk_id"]: r["payload_tokens"]
        for r in spark.read.parquet(f"{dest}/encoded/attempt=1")
        .select("chunk_id", "payload_tokens").collect()
    }
    assert kept_src == kept_dst

    # the table as a whole is bit-identical through compaction
    both = small_df.unionByName(big_df)
    assert verify_bit_identical(both, decode_job.decode(spark, dest))["pass"]
    # lineage invariants hold on the compacted table
    from tokenlake import lint_job

    assert not lint_job.has_warnings_or_errors(lint_job.lint_lineage(spark, dest))
    # compacting the compacted table again is a no-op pass (nothing small,
    # and re-derived salts cannot collide with attempt-1 ids)
    dest2 = str(tmp_path / "dest2")
    s2 = encode_job.compact(spark, dest, dest2, min_rows=100, max_rows=1 << 16)
    assert s2["merged_chunks"] == 0
    assert s2["chunks_after"] == s["chunks_after"]
    assert verify_bit_identical(both, decode_job.decode(spark, dest2))["pass"]
    # point lookup still prunes exactly on compaction-salted chunk ids
    want = [r["doc_id"] for r in both.select("doc_id").orderBy("doc_id").limit(2).collect()]
    hit = decode_job.lookup(spark, dest, want)
    assert sorted(r["doc_id"] for r in hit.collect()) == sorted(want)
    # re-running compact into the SAME dest (crash recovery) must not
    # duplicate merged chunks: the prior attempt=2 files are wiped, not
    # appended beside (same chunk_id AND attempt defeats the earliest-attempt read)
    s3 = encode_job.compact(spark, src, dest, min_rows=100, max_rows=1 << 16)
    assert s3["chunks_after"] == s["chunks_after"]
    dec = decode_job.decode(spark, dest)
    assert dec.count() == both.count()
    assert verify_bit_identical(both, dec)["pass"]


def test_compact_keeps_each_chunks_auto_codec(spark, tmp_path):
    """Compaction re-selects an auto-chosen codec per chunk instead of
    forcing the table's majority codec onto every re-encoded chunk: on a
    two-batch four-profile table, where three sources hold two undersized
    chunks each, every merged chunk keeps its source's tokens codec."""
    tbl = generate_sequences(
        scale=0.02, seed=5, skew=False, profiles=["lowcard", "sorted_ts", "runs", "random"]
    )
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    cfg = Prescription.parse("set column tokens compression none").apply()
    for salt in ("b1", "b2"):
        encode_job.run(spark, df, src, cfg=cfg, max_rows=60, salt=salt)

    def token_codecs(out):
        m = encode_job.column_metrics(spark.read.parquet(f"{out}/encoded"))
        return {r["chunk_id"]: r["codec"] for r in m.filter(F.col("column") == "tokens").collect()}

    s = encode_job.compact(spark, src, dest, min_rows=45, max_rows=400)
    assert s["merged_chunks"] > 0
    before, after = token_codecs(src), token_codecs(dest)
    merged = {c: codec for c, codec in after.items() if c not in before}
    source_codecs: dict = {}
    for c, codec in before.items():
        source_codecs.setdefault(c.split("#")[0], set()).add(codec)
    assert len(set(merged.values())) > 1, merged
    assert all(codec in source_codecs[c.split("#")[0]] for c, codec in merged.items()), merged


def test_compact_keeps_the_dictionary_off(spark, tmp_path):
    """`dictionary false` survives compaction: the stored chunks carry auto
    rules, but with no dict chunk in the table the re-encode keeps the
    dictionary off, so a low-cardinality string and bigint extra that pick
    `str_dict` / `dict` on their own stay off it."""
    pdf = generate_sequences(scale=0.02, seed=5, skew=False, profiles=["lowcard", "runs"]).to_pandas()
    pdf["tag"] = [f"category/{i % 5:03d}/long-shared-label" for i in range(len(pdf))]
    pdf["code"] = [(i * 7919 % 5) * 1_000_000_007 for i in range(len(pdf))]
    df = spark.createDataFrame(pdf)
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    cfg = Prescription.parse(
        "set column tag dictionary false\nset column code dictionary false"
    ).apply()
    # two batches: each source's undersized chunks then have a partner to merge with
    for salt in ("b1", "b2"):
        encode_job.run(spark, df, src, cfg=cfg, max_rows=60, salt=salt)
    s = encode_job.compact(spark, src, dest, min_rows=45, max_rows=400)
    assert s["merged_chunks"] > 0
    m = encode_job.column_metrics(spark.read.parquet(f"{dest}/encoded"))
    codecs = {r["codec"] for r in m.filter(F.col("column").isin("tag", "code")).collect()}
    assert codecs and not codecs & {"dict", "str_dict"}


# ------------------------------------------ container integrity

def test_truncated_and_corrupt_containers_fail_loudly():
    """A storage engine must never decode short silently: the container
    header's raw_len is enforced, so truncation raises instead of returning
    fewer values (outer=none + plain would otherwise frombuffer the stub)."""
    import numpy as np

    from tokenlake.codecs import decode_column, encode_int_column

    arr = np.arange(10_000, dtype=np.int32)
    for codec, outer in [("plain", "none"), ("for", "none"), ("dict", "zstd"), ("delta", "none")]:
        buf = encode_int_column(arr, codec, outer=outer)
        assert np.array_equal(decode_column(buf), arr)
        with pytest.raises((ValueError, Exception)):
            decode_column(buf[: len(buf) - 7])  # truncated body
    bad = bytearray(encode_int_column(arr, "plain", outer="none"))
    bad[0] ^= 0xFF  # corrupt magic
    with pytest.raises(ValueError):
        decode_column(bytes(bad))


def test_shingles_empty_for_short_documents(spark):
    """Documents with < k words must yield an EMPTY shingle list (matching
    DuckDB generate_series semantics) — Spark's sequence(1, 0) counts DOWN
    and previously crashed the whole dedup query on any ≤2-word doc."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": "1", "text": "two words"},
                {"doc_id": "2", "text": "one"},
                {"doc_id": "3", "text": ""},
                {"doc_id": "4", "text": "four words right here"},
            ]
        )
    )
    rows = {r["doc_id"]: r["s"] for r in docs.select("doc_id", textops.shingles().alias("s")).collect()}
    assert rows["1"] == [] and rows["2"] == [] and rows["3"] == []
    assert rows["4"] == ["four words right", "words right here"]
    # and the minhash pipeline runs end-to-end over short docs
    assert textops.minhash_signatures(docs).count() == 1  # only doc 4 has shingles
