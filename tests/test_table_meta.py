"""Read ops plan from one metadata scan: job counts, a payload-free
metadata scan, and Python workers that find the package on their own."""

import os
import subprocess
import sys
import uuid

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tokenlake import decode_job, encode_job
from tokenlake.plan import Prescription
from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bloom_table(spark, tmp_path_factory):
    """A bloom-enabled (tokens + doc_id) table with one extra column."""
    tbl = generate_sequences(scale=0.03, profiles=["lowcard", "smallrange"], skew=False)
    tbl = tbl.append_column("score", pa.array(np.arange(tbl.num_rows, dtype=np.float64)))
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA + ", score double")
    cfg = Prescription.parse(
        "set column tokens bloom_filter true\nset column doc_id bloom_filter true"
    ).apply()
    out = str(tmp_path_factory.mktemp("bloom") / "out")
    encode_job.run(spark, df, out, cfg=cfg, max_rows=200, max_values=60_000)
    return df, out


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_ops_job_counts(spark, bloom_table):
    """decode plans with one job; lookup + toArrow and scan_token + count
    each take at most three (metadata scan, payload scan, count)."""
    df, out = bloom_table
    dec, planning = _jobs(spark, lambda: decode_job.decode(spark, out))
    assert planning == 1
    assert dec.columns == df.columns

    doc_id = df.orderBy("doc_id").first()["doc_id"]
    got, n = _jobs(spark, lambda: decode_job.lookup(spark, out, [doc_id]).toArrow())
    assert n <= 3
    assert got.column("doc_id").to_pylist() == [doc_id]

    token = 100_001
    got, n = _jobs(spark, lambda: decode_job.scan_token(spark, out, token).count())
    assert n <= 3
    assert got == df.filter(F.array_contains("tokens", token)).count() > 0


@pytest.mark.parametrize("column", [None, "tokens", "doc_id"])
def test_metadata_scan_reads_no_payload(spark, bloom_table, column):
    _, out = bloom_table
    plan = decode_job._thin_scan(spark, out, column)._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert scans, plan
    for line in scans:
        # the scan's column list (ReadSchema itself prints truncated)
        read = line.split("FileScan parquet [", 1)[1].split("]", 1)[0]
        assert "chunk_id" in read and "payload_" not in read, line


def test_local_workers_import_the_package_without_pythonpath(tmp_path):
    """A caller that imports tokenlake from its own sys.path (no PYTHONPATH
    export, working directory elsewhere) still gets Python workers that can
    unpickle tokenlake UDFs."""
    script = tmp_path / "encode.py"
    script.write_text(
        f"import sys\nsys.path.insert(0, {REPO!r})\n"
        "from tokenlake import encode_job\n"
        "from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences\n"
        "from tokenlake.session import get_spark\n"
        "spark = get_spark(master='local[1]')\n"
        "tbl = generate_sequences(scale=0.002, profiles=['lowcard'], skew=False)\n"
        "df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)\n"
        "print('chunks', encode_job.encode_dataframe(df).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TOKENLAKE_DRIVER_MEM"] = "512m"
    r = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "chunks " in r.stdout
