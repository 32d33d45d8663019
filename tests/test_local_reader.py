"""Spark-free reader vs the Spark decode path: identical rows, projected
decode, attempt dedup, extras, nulls."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tokenlake import encode_job
from tokenlake.local_reader import read_encoded_local
from tokenlake.schema import generate_sequences


def _seq_df(spark, tmp_path, extra=False, nulls=False):
    t = generate_sequences(scale=0.004)
    if extra:
        t = t.append_column("score", pa.array(np.arange(t.num_rows, dtype=np.float64)))
    if nulls:
        doc = t.column("doc_id").to_pylist()
        doc[1] = None
        t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", pa.array(doc, pa.string()))
    p = str(tmp_path / "in.parquet")
    pq.write_table(t, p)
    return spark.read.parquet(p)


def _sorted_pdf(df_or_tbl):
    pdf = df_or_tbl.to_pandas() if isinstance(df_or_tbl, pa.Table) else df_or_tbl.toPandas()
    return pdf.sort_values([c for c in ("doc_id", "source") if c in pdf.columns]).reset_index(drop=True)


@pytest.mark.parametrize("attempts", [1, 2])
def test_matches_spark_decode(spark, tmp_path, attempts):
    # two attempts: a crash-resumed table (see test_attempt_dedup_keeps_earliest),
    # so decode()'s dedup semi-join meets local_reader's pyarrow-side dedup
    from tokenlake import decode_job

    df = _seq_df(spark, tmp_path, extra=True, nulls=True)
    out = str(tmp_path / "enc")
    encode_job.run(spark, df, out)
    if attempts == 2:
        encode_job.run(spark, df, out, resume=False)
        assert sorted(decode_job._encoded_attempts(spark, out)) == [1, 2]
    local = _sorted_pdf(read_encoded_local(out))
    via_spark = _sorted_pdf(decode_job.decode(spark, out))
    assert list(local.columns) == list(via_spark.columns)
    for c in local.columns:
        a, b = local[c].tolist(), via_spark[c].tolist()
        assert len(a) == len(b)
        for x, y in zip(a, b):
            if isinstance(x, (list, np.ndarray)) or isinstance(y, (list, np.ndarray)):
                assert list(x) == list(y)
            else:
                assert (x == y) or (x is None and y is None) or (x != x and y != y)


def test_projected_decode_and_unknown_column(spark, tmp_path):
    df = _seq_df(spark, tmp_path)
    out = str(tmp_path / "enc")
    encode_job.run(spark, df, out)
    t = read_encoded_local(out, columns=("doc_id", "n_tok"))
    assert t.column_names == ["doc_id", "n_tok"]
    assert t.num_rows == df.count()
    with pytest.raises(ValueError, match="not in this table"):
        read_encoded_local(out, columns=("nope",))


def test_attempt_dedup_keeps_earliest(spark, tmp_path):
    df = _seq_df(spark, tmp_path)
    out = str(tmp_path / "enc")
    encode_job.run(spark, df, out)
    # simulate a crash-then-resume duplicate: lineage intact (so the next
    # attempt numbers itself max+1) but resume disabled (so every chunk
    # re-encodes into the new attempt dir — content identical)
    encode_job.run(spark, df, out, resume=False)
    enc = spark.read.parquet(f"{out}/encoded")
    assert enc.select("attempt").distinct().count() >= 2
    t = read_encoded_local(out)
    assert t.num_rows == df.count()  # duplicates dropped


def test_empty_dir_raises(tmp_path):
    with pytest.raises(Exception):
        read_encoded_local(str(tmp_path / "missing"))


def test_cli_local_decode(spark, tmp_path):
    # --local must round-trip through the CLI without touching the session
    # (it runs pyarrow-only; spark fixture is only used to build the table)
    import pyarrow.parquet as pq

    from tokenlake import cli

    df = _seq_df(spark, tmp_path)
    out = str(tmp_path / "enc")
    encode_job.run(spark, df, out)
    dec_dir = str(tmp_path / "dec")
    rc = cli.main(["decode", out, "-o", dec_dir, "--local"])
    assert rc == 0
    t = pq.read_table(dec_dir)
    assert t.num_rows == df.count()
    assert set(t.column_names) == {"doc_id", "tokens", "n_tok", "source"}
