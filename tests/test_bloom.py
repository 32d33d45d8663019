"""Bloom filters: unit properties, DSL directives, and token-scan pruning."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tokenlake import decode_job, encode_job
from tokenlake.codecs.bloom import build_bloom, might_contain
from tokenlake.plan import PlanError, Prescription
from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences


def test_bloom_no_false_negatives_and_bounded_fpp():
    rng = np.random.default_rng(3)
    present = rng.choice(np.arange(0, 10_000_000, 7, dtype=np.int32), 5000, replace=False)
    bf = build_bloom(present, fpp=0.01)
    assert all(might_contain(bf, int(v)) for v in present[:500])
    absent = rng.integers(10_000_001, 2**31, 2000).astype(np.int32)
    fp = sum(might_contain(bf, int(v)) for v in absent) / len(absent)
    assert fp < 0.05, f"false-positive rate {fp} too high for fpp=0.01"


def test_bloom_dsl_parse_validate_apply():
    rx = Prescription.parse(
        """
        set column tokens bloom_filter true
        set column tokens bloom_filter_fpp 0.001
        set column tokens bloom_filter_ndv 100000
        """
    )
    cfg = rx.apply()
    assert cfg.bloom_for("tokens") == {"fpp": 0.001, "ndv": 100000}
    assert cfg.bloom_for("n_tok") is None
    off = Prescription.parse("set column tokens bloom_filter false").apply(cfg)
    assert off.bloom_for("tokens") is None
    with pytest.raises(PlanError):
        Prescription.parse("set column tokens bloom_filter_fpp 1.5")
    with pytest.raises(PlanError):
        Prescription.parse("set column tokens bloom_filter maybe")


@pytest.mark.parametrize(
    "probe, attempts",
    [(100_001, 1), (-7, 1), (100_001, 2), (-7, 2)],
    ids=["present", "absent", "present-2", "absent-2"],
)
def test_scan_token_prunes_chunks(spark, tmp_out, probe, attempts):
    tbl = generate_sequences(scale=0.03, profiles=["lowcard", "smallrange"], skew=False)
    tbl = tbl.append_column("score", pa.array(np.arange(tbl.num_rows, dtype=np.float64)))
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA + ", score double")
    cfg = Prescription.parse("set column tokens bloom_filter true").apply()
    for _ in range(attempts):
        # a second attempt re-encodes every chunk (resume off): the
        # crash-resume duplicate shape, which reads must ignore
        encode_job.run(spark, df, tmp_out, cfg=cfg, max_rows=200, max_values=60_000, resume=False)
    enc = spark.read.parquet(f"{tmp_out}/encoded")
    assert enc.select("attempt").distinct().count() == attempts
    assert enc.filter(F.col("bloom").isNull()).count() == 0  # every chunk row carries its tokens bloom

    # smallrange values live in [100000, 100000+2^12); lowcard's vocab is
    # spread over the whole int32 space — pick a smallrange-only token. The
    # absent token is rejected by every bloom, so nothing is left to decode
    expected = df.filter(F.array_contains("tokens", probe))
    got = decode_job.scan_token(spark, tmp_out, probe)
    assert got.columns == df.columns
    assert got.count() == expected.count()
    # pruning: candidate chunks must exclude (nearly all) lowcard chunks
    total = enc.select("chunk_id").distinct().count()
    ids = [r["chunk_id"] for r in decode_job.chunks_containing_token(spark, tmp_out, probe).collect()]
    assert len(ids) == len(set(ids)), "a chunk id is listed once per attempt"
    cands = len(ids)
    if probe > 0:
        assert expected.count() > 0
        assert cands < total, f"no pruning: {cands} of {total}"
    else:
        assert cands == 0


def test_bloom_absent_by_default(spark, tmp_out):
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    encode_job.run(spark, df, tmp_out)
    enc = spark.read.parquet(f"{tmp_out}/encoded")
    assert enc.filter(F.col("bloom").isNotNull()).count() == 0
