"""Lint (plan-only sampled analysis) and point-lookup chunk pruning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tokenlake import decode_job, encode_job, lint_job
from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences


@pytest.fixture(scope="module")
def seq_df(spark):
    tbl = generate_sequences(scale=0.05, profiles=["lowcard", "sorted_ts", "random"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    df.cache().count()
    return df


def test_lint_decisions_match_encode_decisions(spark, seq_df, tmp_out):
    """The sampled plan-only lint must predict what the full encode picks
    (reference: lint diagnostics ARE the rewrite's prescriptions)."""
    decisions = lint_job.lint(spark, seq_df, fraction=0.3)
    lint_codecs = {
        r["chunk_id"].split("#")[0]: r["codec"]
        for r in decisions.filter(F.col("column") == "tokens").collect()
    }
    assert lint_codecs["lowcard"] == "dict"
    assert lint_codecs["sorted_ts"] == "delta"
    assert lint_codecs["random"] == "plain"
    # severity ordering: warnings (big savings) sort before suggestions
    sev = [r["severity"] for r in decisions.collect()]
    first_suggestion = sev.index("suggestion") if "suggestion" in sev else len(sev)
    assert "warning" not in sev[first_suggestion:]


def test_lint_to_prescription_to_encode(spark, seq_df, tmp_out):
    """Full reference lifecycle: lint → merged prescription → encode applies it."""
    decisions = lint_job.lint(spark, seq_df.filter(F.col("source") == "sorted_ts"), fraction=0.5)
    rx = lint_job.prescription_from_decisions(decisions)
    assert "set column tokens encoding delta" in rx.format()
    cfg = rx.apply()
    encode_job.run(spark, seq_df.filter(F.col("source") == "sorted_ts"), tmp_out, cfg=cfg)
    enc = encode_job.column_metrics(spark.read.parquet(f"{tmp_out}/encoded"))
    got = {r["codec"] for r in enc.filter(F.col("column") == "tokens").collect()}
    assert got == {"delta"}


@pytest.mark.parametrize("attempts", [1, 2])
def test_lookup_prunes_and_returns_exact_rows(spark, seq_df, tmp_out, attempts):
    for _ in range(attempts):
        # a second attempt re-encodes every chunk (resume off): the
        # crash-resume duplicate shape, which reads must ignore
        encode_job.run(spark, seq_df, tmp_out, max_rows=300, max_values=100_000, resume=False)
    want = [r["doc_id"] for r in seq_df.select("doc_id").orderBy("doc_id").limit(3).collect()]
    got = decode_job.lookup(spark, tmp_out, want)
    rows = got.collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(want)
    # tokens bit-identical for the looked-up rows
    src = {r["doc_id"]: r["tokens"] for r in seq_df.filter(F.col("doc_id").isin(want)).collect()}
    for r in rows:
        assert np.array_equal(r["tokens"], src[r["doc_id"]])
    assert len(rows) == len(want)  # one row per id, however many attempts hold it
    # pruning: the decode must touch far fewer chunks than exist
    total_chunks = spark.read.parquet(f"{tmp_out}/encoded").select("chunk_id").distinct().count()
    # no doc_id filter on this table: every chunk is admitted, each once
    ids = [r["chunk_id"] for r in decode_job.chunks_containing_value(spark, tmp_out, "doc_id", want[0]).collect()]
    assert sorted(ids) == sorted(set(ids)) and len(ids) == total_chunks
    assert total_chunks > 6  # the fixture actually fans out
    # candidate set ≤ #ids × #sources, and that bound must actually prune
    n_sources = seq_df.select("source").distinct().count()
    assert len(want) * n_sources < total_chunks
    empty = decode_job.lookup(spark, tmp_out, [])
    assert empty.count() == 0
    missing = decode_job.lookup(spark, tmp_out, ["no-such-doc"])
    assert missing.count() == 0
