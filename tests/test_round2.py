"""Round-2 features: R2 outer-codec majority vote, statistics truncation,
X1 plan-from-encoded inference, lineage lint severity `error` + gate,
64-bit SimHash, banded-LSH embedding near-dup, IVF search, vectorized
multimodal features."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tokenlake import encode_job, lint_job, outer_policy, similarity, textops
from tokenlake.plan import PlanError, Prescription
from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences


# ---------------------------------------------------------------- R2 policy

def test_outer_policy_medium_column_upgrades_to_zstd():
    """compression_codec.rs:305-331 analog: compressible mid-size column →
    ZSTD(3) for size."""
    n, each = 8, 2 << 20  # 16 MB over 8 chunks, all below the speed threshold
    assert outer_policy.decide(n, n * each, each, 0.5, 0, n) == "zstd(3)"


def test_outer_policy_large_chunks_prefer_lz4():
    """compression_codec.rs:332-356 analog: big chunks vote LZ4 (speed)."""
    n, each = 4, 8 << 20
    assert outer_policy.decide(n, n * each, each, 0.6, n, 0) == "lz4"


def test_outer_policy_incompressible_is_noop():
    """zstd3-noop case: ratio > 0.95 ⇒ store uncompressed (R3)."""
    assert outer_policy.decide(8, 64 << 20, 8 << 20, 0.97, 0, 0) == "uncompressed"


def test_outer_policy_small_column_keeps_default():
    assert outer_policy.decide(4, 1 << 20, 1 << 18, 0.5, 0, 4) is None


def test_outer_policy_single_huge_chunk_left_alone():
    assert outer_policy.decide(1, 40 << 20, 40 << 20, 0.5, 1, 0) is None


def test_outer_policy_many_small_chunks_take_lz4():
    """file6-like pattern (compression_codec.rs:94-123): ≥64 tiny chunks
    totaling ≥64 MB in the [0.55, 0.85] ratio band → LZ4."""
    n, each = 80, 1 << 20
    assert outer_policy.decide(n, n * each, each, 0.7, 0, n) == "lz4"


def test_chunk_vote_thresholds():
    assert outer_policy.chunk_vote(1 << 20, 0.96) == "none"
    assert outer_policy.chunk_vote(8 << 20, 0.5) == "lz4"
    assert outer_policy.chunk_vote(1 << 20, 0.5) == "zstd(3)"


# ------------------------------------------------------ statistics truncate

def test_truncate_stat_bounds():
    long = "a" * 100
    assert encode_job.truncate_stat_min(long) == "a" * 64
    mx = encode_job.truncate_stat_max(long)
    assert len(mx) == 64 and mx >= long  # still a valid upper bound
    assert mx == "a" * 63 + "b"
    assert encode_job.truncate_stat_min("short") == "short"
    assert encode_job.truncate_stat_max("short") == "short"
    # multi-byte chars: the bound must survive char-boundary truncation
    ff = "\xff" * 70
    mx2 = encode_job.truncate_stat_max(ff, limit=4)
    assert mx2 >= ff and len(mx2.encode()) <= 5


def test_encode_truncates_doc_id_stats(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "doc_id": ["x" * 200 + f"{i:03d}" for i in range(4)],
            "tokens": [[1, 2, 3]] * 4,
            "n_tok": [3] * 4,
            "source": ["s"] * 4,
        }
    )
    df = spark.createDataFrame(pdf, schema=SEQUENCES_SPARK_SCHEMA)
    out = str(tmp_path / "trunc")
    encode_job.run(spark, df, out)
    enc = spark.read.parquet(f"{out}/encoded")
    r = enc.select("doc_id_min", "doc_id_max").first()
    assert len(r["doc_id_min"]) == 64 and r["doc_id_min"] == "x" * 64
    assert len(r["doc_id_max"]) == 64 and r["doc_id_max"] == "x" * 63 + "y"
    # directive overrides the limit (R9 knob wired through the DSL)
    out2 = str(tmp_path / "trunc8")
    cfg = Prescription.parse("set file statistics_truncate_length 8").apply()
    encode_job.run(spark, df, out2, cfg=cfg)
    r2 = spark.read.parquet(f"{out2}/encoded").select("doc_id_min").first()
    assert r2["doc_id_min"] == "x" * 8


# ------------------------------------------------- X1 plan_from_encoded

def test_plan_from_encoded_preserves_untouched_columns(spark, tmp_path):
    """Mirror of reference fix.rs:276-305: re-encode with a 1-column
    prescription keeps the other columns' inferred codec/outer/bloom."""
    tbl = generate_sequences(scale=0.01, profiles=["lowcard", "sorted_ts"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    cfg0 = Prescription.parse(
        "set column tokens bloom_filter true\nset column n_tok compression zlib(6)"
    ).apply()
    encode_job.run(spark, df, out_a, cfg=cfg0)

    inferred = encode_job.plan_from_encoded(spark, out_a)
    assert inferred.bloom_for("tokens") is not None
    assert inferred.outer_for("n_tok") == "zlib"

    # overlay changes ONLY tokens' encoding; everything else must carry over
    cfg1 = Prescription.parse("set column tokens encoding for").apply(base=inferred)
    encode_job.run(spark, df, out_b, cfg=cfg1)
    enc_a = encode_job.column_metrics(spark.read.parquet(f"{out_a}/encoded"))
    enc_b = encode_job.column_metrics(spark.read.parquet(f"{out_b}/encoded"))
    assert {r["codec"] for r in enc_b.filter(F.col("column") == "tokens").collect()} == {"for"}
    for col in ("n_tok", "doc_id", "source"):
        a = {(r["chunk_id"], r["codec"], r["outer"]) for r in enc_a.filter(F.col("column") == col).collect()}
        b = {(r["chunk_id"], r["codec"], r["outer"]) for r in enc_b.filter(F.col("column") == col).collect()}
        assert a == b, f"untouched {col} changed codec/outer across re-encode"
    # bloom preserved on tokens
    assert enc_b.filter(F.col("has_bloom")).count() > 0


# ------------------------------------------- lineage lint: error severity

def test_lint_lineage_flags_gaps_and_gate(spark, tmp_path):
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out = str(tmp_path / "lin")
    encode_job.run(spark, df, out)
    ok = lint_job.lint_lineage(spark, out)
    assert ok.filter(F.col("severity") == "error").count() == 0
    assert not lint_job.has_warnings_or_errors(ok)

    # simulate a crash between the encoded and lineage writes: a second
    # attempt's encoded files exist but its lineage rows don't
    gap = str(tmp_path / "gap")
    enc = spark.read.parquet(f"{out}/encoded")
    enc.write.parquet(f"{gap}/encoded/attempt=1")
    lineage = encode_job.lineage_from_encoded(
        spark.read.parquet(f"{gap}/encoded")
    ).filter(~F.col("chunk_id").endswith("#0"))
    lineage.write.parquet(f"{gap}/lineage")
    bad = lint_job.lint_lineage(spark, gap)
    errs = bad.filter(F.col("severity") == "error")
    assert errs.count() > 0
    assert {r["rule"] for r in errs.collect()} == {"lineage-missing"}
    assert lint_job.has_warnings_or_errors(bad)


def test_prescription_includes_outer_directive(spark):
    """Big compressible sample → prescription carries an R2 compression
    directive (scale lifts sampled bytes past the 8 MB column floor)."""
    tbl = generate_sequences(scale=0.05, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    decisions = lint_job.lint(spark, df, fraction=0.5)
    rx = lint_job.prescription_from_decisions(decisions, scale=1e4)
    text = rx.format()
    assert "compression" in text
    rx.apply()  # directives must be valid DSL


# --------------------------------------------------------------- simhash

def test_simhash_is_64_bit_and_similar_docs_are_close(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog again and again",
                    "the quick brown fox jumps over the lazy dog again and once",
                    "completely unrelated legal boilerplate concerning maritime law",
                ],
            }
        )
    )
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash64(docs).collect()}
    # bits above 16 must be populated (round 1 computed only 16 bits)
    assert any(abs(v) >= (1 << 16) for v in sh.values())

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = hamming(sh[1], sh[2])
    far = min(hamming(sh[1], sh[3]), hamming(sh[2], sh[3]))
    assert near < far
    cand = {(r["doc_a"], r["doc_b"]) for r in textops.simhash_candidates(docs).collect()}
    assert (1, 2) in cand


def test_split_assign_deterministic_and_ratioed(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(2000), "text": ["x"] * 2000})
    )
    a = {r["doc_id"]: r["split"] for r in textops.split_assign(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in textops.split_assign(docs).collect()}
    assert a == b  # deterministic across invocations
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    frac_val = sum(1 for v in a.values() if v == "val") / n
    assert 0.85 < frac_train < 0.95
    assert 0.02 < frac_val < 0.09


def test_pack_sequences_window_invariants(spark):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "doc_id": range(300),
            "source": ["s1"] * 150 + ["s2"] * 150,
            "n_chars": rng.integers(100, 900, 300),
        }
    )
    docs = spark.createDataFrame(pdf)
    out = textops.pack_sequences(docs, window=2048).toPandas()
    for (_, pack), g in out.groupby(["source", "pack_id"]):
        g = g.sort_values("doc_id")
        # positions are 1..k contiguous in doc_id order
        assert list(g["pack_pos"]) == list(range(1, len(g) + 1))
        # every doc except possibly the last STARTS inside the window
        starts_ok = g["n_chars"].cumsum().shift(fill_value=0) < 2048
        assert starts_ok.all()
    # every doc appears exactly once
    assert sorted(out["doc_id"]) == list(range(300))


# --------------------------------------------- embedding LSH + IVF search

@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 64)).astype(np.float32)
    # plant 10 near-duplicates: tiny perturbations of the first 10 vectors
    dups = base[:10] + 0.01 * rng.standard_normal((10, 64)).astype(np.float32)
    vecs = np.vstack([base, dups])
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": np.zeros(len(vecs), dtype=np.int32),
        }
    )
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>, label int")
    df.cache().count()
    return df


def test_lsh_near_dup_subset_and_recall(emb_df):
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(emb_df, threshold=0.9).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs_lsh(emb_df, threshold=0.9).collect()
    }
    assert len(exact) >= 10  # the planted duplicates
    assert lsh <= exact  # LSH never invents pairs
    assert len(lsh) / len(exact) >= 0.9  # planted dups at cos≈0.999 ⇒ near-full recall


def test_lsh_plan_has_no_cartesian(emb_df):
    plan = similarity.embedding_near_dup_pairs_lsh(emb_df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_train_refines_lists(emb_df):
    """Lloyd iterations must cover every vector and not degrade the mean
    assignment similarity vs the un-trained seed centroids."""
    n = emb_df.count()
    trained = similarity.ivf_train(emb_df, n_centroids=8, iters=3).collect()
    assert sum(r["n_vecs"] for r in trained) == n
    assert len(trained) <= 8
    seed = [list(r["embedding"]) for r in emb_df.orderBy("vec_id").limit(8).collect()]
    init = similarity._assign_to_literal_centroids(emb_df, seed)
    from pyspark.sql import functions as F

    init_avg = init.agg(F.avg("sim")).first()[0]
    trained_avg = sum(r["n_vecs"] * r["avg_sim"] for r in trained) / n
    assert trained_avg >= init_avg - 0.01


def test_ivf_search_probing_all_lists_equals_brute_force(emb_df):
    brute = [(r["vec_id"], r["cos_sim"]) for r in similarity.cosine_topk(emb_df, 0, k=5).collect()]
    ivf_all = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_search(emb_df, 0, n_centroids=8, nprobe=8, k=5).collect()
    ]
    assert ivf_all == brute
    # restricted probing returns a subset of the full ranking, still sorted
    ivf2 = [(r["vec_id"], r["cos_sim"]) for r in similarity.ivf_search(emb_df, 0, nprobe=2, k=5).collect()]
    assert len(ivf2) > 0
    sims = [s for _, s in ivf2]
    assert sims == sorted(sims, reverse=True)
    assert 0 not in {v for v, _ in ivf2}
    # vec 40 is the planted near-dup of vec 0 → must top both rankings
    assert brute[0][0] == 40 and ivf_all[0][0] == 40


# ------------------------------------------------------ multimodal kernel

def test_multimodal_features_match_reference_formula(spark):
    from tokenlake import multimodal

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["hello world" * 9, "", "x"]})
    )
    media = multimodal.attach_fake_media(docs)
    got = {r["doc_id"]: (r["byte_len"], r["feature"]) for r in multimodal.extract_features(media).collect()}
    dim = 8
    for doc_id, text in [(1, "hello world" * 9), (2, ""), (3, "x")]:
        raw = text.encode()
        arr = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        bounds = (np.arange(dim + 1) * len(raw)) // dim
        exp = [
            arr[bounds[i] : bounds[i + 1]].mean() if bounds[i + 1] > bounds[i] else 0.0
            for i in range(dim)
        ]
        blen, feat = got[doc_id]
        assert blen == len(raw)
        assert np.allclose(feat, exp, atol=1e-4)


# ----------------------------------------------------------------- plan DSL

def test_bloom_ndv_zero_rejected_at_parse():
    with pytest.raises(PlanError):
        Prescription.parse("set column tokens bloom_filter_ndv 0")
    Prescription.parse("set column tokens bloom_filter_ndv 1")


def test_new_directive_kinds_parse_and_apply():
    cfg = Prescription.parse(
        "set column tokens statistics page\n"
        "set column doc_id statistics none\n"
        "set column tokens dictionary_page_size_limit 1048576\n"
        "set file data_page_size_limit 400\n"
    ).apply()
    assert cfg.stats_for("tokens") == "page"
    assert cfg.stats_for("doc_id") == "none"
    assert cfg.stats_for("n_tok") == "chunk"  # default
    assert cfg.bloom_for("tokens") is not None  # page level implies the index
    assert cfg.dict_limit_for("tokens") == 1048576
    assert cfg.effective_max_values(10_000) == 100  # 400 B / 4 B per token
    with pytest.raises(PlanError):
        Prescription.parse("set column tokens statistics everything")
    with pytest.raises(PlanError):
        Prescription.parse("set column tokens dictionary_page_size_limit 0")


def test_statistics_directives_flow_into_metrics(spark, tmp_path):
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out = str(tmp_path / "stats")
    cfg = Prescription.parse(
        "set column tokens statistics none\nset column doc_id statistics none"
    ).apply()
    encode_job.run(spark, df, out, cfg=cfg)
    enc = encode_job.column_metrics(spark.read.parquet(f"{out}/encoded"))
    tok = enc.filter(F.col("column") == "tokens").first()
    assert tok["min_val"] == 0 and tok["max_val"] == 0 and tok["distinct_est"] == 0
    assert tok["doc_id_min"] == "" and not tok["stats_exact"]
    # page level on tokens → membership index built without a bloom directive
    out2 = str(tmp_path / "page")
    cfg2 = Prescription.parse("set column tokens statistics page").apply()
    encode_job.run(spark, df, out2, cfg=cfg2)
    enc2 = spark.read.parquet(f"{out2}/encoded")
    assert enc2.filter(F.col("bloom").isNotNull()).count() > 0
    assert enc2.filter(~F.col("stats_exact")).count() == 0
    # decode stays bit-identical with stats off
    from tokenlake import decode_job

    dec = decode_job.decode(spark, out).select("doc_id", F.col("tokens").alias("d"))
    bad = df.join(dec, "doc_id", "left").filter(
        F.col("d").isNull() | (F.col("tokens") != F.col("d"))
    ).count()
    assert bad == 0


def test_dictionary_growth_policy():
    from tokenlake import select

    # sizing math mirrors dictionary_encoding.rs:484-525
    assert select.suggested_dictionary_page_size_limit(1 << 20) == 2 << 20
    assert select.suggested_dictionary_page_size_limit(3 << 20) == 4 << 20
    assert select.suggested_dictionary_page_size_limit(16 << 20) == 16 << 20
    assert select.suggested_dictionary_page_size_limit((16 << 20) + 1) is None
    assert select.suggested_max_chunk_rows(65536, 32 << 20) == 65536 * 16 // 32
    assert select.suggested_max_chunk_rows(100, 1 << 20) == 100  # already fits

    from tokenlake.stats import compute_chunk_stats

    rng = np.random.default_rng(3)
    vocab = np.arange(0, 100 * 9_000_001, 9_000_001, dtype=np.int32)  # sparse ids
    vals = rng.permutation(np.repeat(vocab, 50))  # ndv=100, wide range, no runs
    st = compute_chunk_stats(vals, 100)
    assert select.classify_dict_chunk(st, None) == "DictOnly"
    assert select.classify_dict_chunk(st, 100) == "Fallback"  # 100 B limit
    assert select.estimate_dictionary_payload_bytes(st) == int(100 * 4 * 1.25)
    hi = np.arange(5000, dtype=np.int32)  # all distinct
    assert select.classify_dict_chunk(compute_chunk_stats(hi, 100), None) == "NoDict"
    # a Fallback-tight limit removes dict from the candidate set
    d = select.select_codec(vals, st, dict_page_limit=100)
    assert d.codec != "dict"
    d2 = select.select_codec(vals, st, dict_page_limit=1 << 20)
    assert d2.codec == "dict"


def test_dict_page_limit_directive_reaches_encoder(spark, tmp_path):
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out = str(tmp_path / "dlim")
    cfg = Prescription.parse("set column tokens dictionary_page_size_limit 16").apply()
    encode_job.run(spark, df, out, cfg=cfg)
    enc = encode_job.column_metrics(spark.read.parquet(f"{out}/encoded"))
    assert enc.filter((F.col("column") == "tokens") & (F.col("codec") == "dict")).count() == 0


def test_decode_dedups_crash_duplicate_attempts(spark, tmp_path):
    """A crash between the encoded and lineage writes followed by a resume
    leaves the same chunk in two attempt dirs; decode must keep exactly one
    copy, via the metrics-weight (chunk_id, attempt) guard — never a payload
    shuffle (the executed plan's only exchange carries key pairs)."""
    from tokenlake import decode_job

    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    out = str(tmp_path / "dup")
    encode_job.run(spark, df, out)
    enc = spark.read.parquet(f"{out}/encoded").drop("attempt")
    # simulate the crash: the same chunks appear again under a later attempt
    enc.write.parquet(f"{out}/encoded/attempt=9")
    assert spark.read.parquet(f"{out}/encoded").count() == 2 * enc.count()
    dec = decode_job.decode(spark, out)
    assert dec.count() == df.count()
    from tokenlake.verify import verify_bit_identical

    assert verify_bit_identical(df, dec)["pass"]
    plan = dec._jdf.queryExecution().executedPlan().toString()
    payload_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "payload" in l
    ]
    assert not payload_exchanges, payload_exchanges


def test_encode_plan_has_single_data_shuffle(spark):
    """Scale invariant: the encode plan moves row data through exactly ONE
    hash exchange (on chunk_id); bucket planning rides a broadcast join and
    its own exchange carries O(#sources) aggregate rows only."""
    tbl = generate_sequences(scale=0.01, profiles=["lowcard", "runs"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    plan = encode_job.encode_dataframe(df)._jdf.queryExecution().executedPlan().toString()
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    data_exchanges = [l for l in exchanges if "chunk_id" in l]
    assert len(data_exchanges) == 1, exchanges
    # the remaining exchange (bucket planning) must be the tiny per-source agg
    assert len(exchanges) <= 2, exchanges
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_prescription_dictionary_growth(spark):
    """R1 growth flow: dict-winning column whose table overflows the 2 MB
    start page → grow the limit (doubling); >16 MB → shrink chunks instead
    (dictionary_encoding.rs:155-240)."""

    def mkrow(payload, column="tokens", codec="dict", chunk="c#0"):
        # field order = LINT_SCHEMA (round 4 added distinct_est, max_zz_delta,
        # min_val, max_val)
        return (chunk, column, codec, "dictionary-encoding-cardinality",
                "suggestion", 100, 1000, 50000, 500, 10, 0, 4096,
                0.01, 1.0, 0.5, 1000, 0.5, payload, "column")

    grow = spark.createDataFrame([mkrow(5 << 20)], schema=lint_job.LINT_SCHEMA)
    rx = lint_job.prescription_from_decisions(grow)
    assert f"set column tokens dictionary_page_size_limit {8 << 20}" in rx.format()

    shrink = spark.createDataFrame([mkrow(32 << 20)], schema=lint_job.LINT_SCHEMA)
    rx2 = lint_job.prescription_from_decisions(shrink)
    assert "set file max_chunk_rows 500" in rx2.format()  # 1000 × 16/32
    assert f"set column tokens dictionary_page_size_limit {16 << 20}" in rx2.format()
    rx2.apply()  # emitted directives must be valid DSL

    # two overflowing dict columns: the file-level shrink is the tighter one
    # (64 MB → 1000 × 16/64), once; directives come out family by family
    both = spark.createDataFrame(
        [mkrow(32 << 20), mkrow(64 << 20, column="n_tok")], schema=lint_job.LINT_SCHEMA
    )
    assert lint_job.prescription_from_decisions(both).format().splitlines() == [
        "set column n_tok encoding dict",
        "set column tokens encoding dict",
        f"set column n_tok dictionary_page_size_limit {16 << 20}",
        f"set column tokens dictionary_page_size_limit {16 << 20}",
        "set file max_chunk_rows 250",
    ]

    # an encoding is named only where every linted chunk agrees: a 1:1
    # codec tie names none, whatever the row order
    tie = [mkrow(0, codec="rle", chunk="c#0"), mkrow(0, codec="delta", chunk="c#1")]
    for rows in (tie, tie[::-1]):
        d = spark.createDataFrame(rows, schema=lint_job.LINT_SCHEMA)
        assert lint_job.prescription_from_decisions(d).format() == ""
    agree = [mkrow(0, codec="delta", chunk=f"c#{i}") for i in range(3)]
    d = spark.createDataFrame(agree, schema=lint_job.LINT_SCHEMA)
    assert lint_job.prescription_from_decisions(d).format() == "set column tokens encoding delta"
    # R1 still keys on the majority codec: two dict chunks of three grow
    # the page limit, with no encoding directive
    split = [mkrow(5 << 20, chunk="c#0"), mkrow(5 << 20, chunk="c#1"),
             mkrow(0, codec="for", chunk="c#2")]
    d = spark.createDataFrame(split, schema=lint_job.LINT_SCHEMA)
    assert lint_job.prescription_from_decisions(d).format() == (
        f"set column tokens dictionary_page_size_limit {8 << 20}"
    )

    # the driver fold does not depend on how the decisions are partitioned
    mixed = spark.createDataFrame(
        [mkrow(32 << 20, chunk=f"c#{i}", codec=("dict", "for")[i % 3 == 0],
               column=("tokens", "n_tok", "emb")[i % 3])
         for i in range(30)],
        schema=lint_job.LINT_SCHEMA,
    )
    want = lint_job.prescription_from_decisions(mixed).format()
    assert lint_job.prescription_from_decisions(mixed.repartition(7)).format() == want


# --------------------------------------------------------------------- CLI

def test_cli_lint_gate_and_prescription(spark, tmp_path):
    from tokenlake import cli

    # two lowcard sources: every chunk's tokens pick dict, so the exported
    # prescription names that encoding (it names one only where all agree)
    df = spark.createDataFrame(
        generate_sequences(scale=0.02, profiles=["lowcard"], skew=False).to_pandas(),
        schema=SEQUENCES_SPARK_SCHEMA,
    )
    in_p = str(tmp_path / "in.parquet")
    df.unionByName(df.withColumn("source", F.lit("lowcard_b"))).write.parquet(in_p)
    rx_p = str(tmp_path / "rx.txt")
    # lowcard leaves >50% on the table → warning → exit 1 (the CI gate)
    code = cli.main(
        ["lint", in_p, "--fraction", "0.5", "--prescription-out", rx_p], spark=spark
    )
    assert code == 1
    text = open(rx_p).read()
    assert "set column tokens encoding dict" in text
    # severity filter + rule filter paths run; a typo'd rule name must
    # fail LOUDLY (it used to silently filter to zero rows and weaken the
    # CI gate to exit 0)
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="unknown rule"):
        cli.main(
            ["lint", in_p, "--fraction", "0.5", "--severity", "error",
             "--rules", "no-such-rule"],
            spark=spark,
        )
    assert cli.main(
        ["lint", in_p, "--fraction", "0.5", "--severity", "error",
         "--rules", "dictionary-encoding-cardinality, fsst-symbol-table"],
        spark=spark,
    ) in (0, 1)


def test_cli_rewrite_dry_run_and_from_prescription(spark, tmp_path, capsys):
    from tokenlake import cli

    tbl = generate_sequences(scale=0.01, profiles=["sorted_ts"], skew=False)
    in_p = str(tmp_path / "in2.parquet")
    spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA).write.parquet(in_p)
    out = str(tmp_path / "cliout")
    assert cli.main(["rewrite", in_p, "-o", out, "--dry-run", "--fraction", "0.5"], spark=spark) == 0
    printed = capsys.readouterr().out
    assert "set column tokens encoding" in printed
    import os

    assert not os.path.exists(f"{out}/encoded")  # dry run wrote nothing
    rx_p = str(tmp_path / "force.txt")
    with open(rx_p, "w") as f:
        f.write("set column tokens encoding plain\nset column tokens encoding for\n")
    assert cli.main(["rewrite", in_p, "-o", out, "--from-prescription", rx_p], spark=spark) == 0
    enc = encode_job.column_metrics(spark.read.parquet(f"{out}/encoded"))
    # conflicting directives warn and the LAST wins (cli/main.rs:75-82)
    assert {r["codec"] for r in enc.filter(F.col("column") == "tokens").collect()} == {"for"}


def test_cli_rewrite_rules_filter_and_export(spark, tmp_path, capsys):
    """`rewrite --rules` applies only the named rules' fixes and
    `--export-prescription` writes the merged DSL (cli/main.rs:44-54)."""
    import os

    from tokenlake import cli

    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    in_p = str(tmp_path / "in3.parquet")
    spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA).write.parquet(in_p)
    out = str(tmp_path / "rulesout")
    rx_p = str(tmp_path / "exported.txt")
    assert cli.main(
        ["rewrite", in_p, "-o", out, "--fraction", "0.5",
         "--rules", "dictionary-encoding-cardinality",
         "--export-prescription", rx_p],
        spark=spark,
    ) == 0
    text = open(rx_p).read()
    assert "encoding dict" in text and text.endswith("\n")
    # the filter dropped every other rule's directives (outer codec, bloom…)
    assert "compression" not in text and "bloom" not in text
    assert os.path.exists(f"{out}/encoded")
    # --rules with --from-prescription is contradictory: loud exit 2
    assert cli.main(
        ["rewrite", in_p, "-o", str(tmp_path / "x"), "--from-prescription", rx_p,
         "--rules", "a"],
        spark=spark,
    ) == 2
