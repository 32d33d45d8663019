"""Lint and encode decide each codec through one dispatch, and the
prescription folds the lint decisions from one aggregate."""

import decimal
import uuid

import numpy as np
import pyarrow as pa
import pytest

from tokenlake import encode_job, lint_job
from tokenlake.plan import Prescription
from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences


def _chunk(n=3000, seed=7):
    """One chunk as the encoder's UDF receives it, with a bool, double,
    string, fixed-size-binary, decimal and list<float> extra."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, 20, n).astype(np.int32)
    return pa.table({
        "chunk_id": pa.array(["s#0"] * n),
        "nbuckets": pa.array([1] * n, pa.int32()),
        "doc_id": pa.array([f"d{i:06d}" for i in rng.permutation(n)]),
        "tokens": pa.array(
            [rng.integers(0, 300, k).astype(np.int32) for k in lens], pa.list_(pa.int32())
        ),
        "n_tok": pa.array(lens, pa.int32()),
        "source": pa.array(["s"] * n),
        "flag": pa.array(rng.random(n) < 0.2),
        "score": pa.array(rng.normal(size=n)),
        "tag": pa.array([f"tag{i % 7}" for i in range(n)]),
        "fsb": pa.array([bytes([i % 5, 0xFF, 3]) for i in range(n)], pa.binary(3)),
        "amount": pa.array(
            [decimal.Decimal(int(v)) / 100 for v in rng.integers(0, 10**6, n)],
            pa.decimal128(12, 2),
        ),
        "emb": pa.array(
            [rng.random(4).astype(np.float32) for _ in range(n)], pa.list_(pa.float32())
        ),
    })


@pytest.mark.parametrize(
    "text",
    ["", "set column flag encoding rle", "set column score encoding plain",
     "set column tag encoding plain"],
)
def test_full_depth_lint_picks_the_encoders_codec(text):
    """On the same rows, lint (unsampled) and encode make the same codec
    choice, with the same rule, for every linted column — forced codecs
    included."""
    t = _chunk()
    cfg = Prescription.parse(text).apply() if text else None
    lint = {
        r["column"]: (r["codec"], r["rule"])
        for r in lint_job.lint_chunk(t, cfg, fraction=1.0, full_stats=True).to_pylist()
    }
    enc = {
        m["column"]: (m["codec"], m["rule"])
        for m in encode_job.encode_chunk(t, cfg).column("columns")[0].as_py()
    }
    assert set(lint) == {"tokens", "n_tok", "flag", "score", "tag", "fsb", "amount", "emb"}
    assert lint == {c: enc[c] for c in lint}
    if text:
        column, codec = text.split()[2], text.split()[-1]
        assert lint[column][1] == "forced"
        assert lint[column][0] in (codec, f"str_{codec}")


def test_prescription_is_one_aggregate(spark):
    """The prescription reduces the lint decisions with one grouped
    aggregate: at most 4 Spark jobs (AQE stages included), not one
    collect per rule."""
    tbl = generate_sequences(scale=0.02, profiles=["lowcard", "sorted_ts", "random"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    decisions = lint_job.lint(spark, df, fraction=0.3)
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rx = lint_job.prescription_from_decisions(decisions)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    assert "set column tokens encoding" in rx.format()
