"""Ops plan from one metadata read: read and write job counts per
executor, a payload-free metadata read, driver/Spark executor parity,
lookup's id hashing, run()'s refusal on a failed listing, and Python
workers that find the package on their own and start with its kernels
imported."""

import glob
import os
import shutil
import subprocess
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tokenlake import chunking, decode_job, encode_job, lint_job
from tokenlake.local_reader import read_encoded_local
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


# the threshold value that selects each table_meta executor on a local table
EXECUTORS = {"driver": 1 << 62, "spark": -1}


@pytest.fixture(params=sorted(EXECUTORS))
def executor(request, monkeypatch):
    monkeypatch.setattr(decode_job, "DRIVER_PLAN_MAX_BYTES", EXECUTORS[request.param])
    return request.param


def test_read_ops_job_counts(spark, bloom_table, executor):
    """decode plans with no job on the driver executor and one on the Spark
    executor (its metadata scan); lookup + toArrow then takes ≤ 1 / ≤ 3 and
    scan_token + count ≤ 2 / ≤ 3 (payload scan and count, plus the
    metadata scan on the Spark executor)."""
    planning_jobs, lookup_max, scan_max = {"driver": (0, 1, 2), "spark": (1, 3, 3)}[executor]
    df, out = bloom_table
    dec, planning = _jobs(spark, lambda: decode_job.decode(spark, out))
    assert planning == planning_jobs
    assert dec.columns == df.columns

    doc_id = df.orderBy("doc_id").first()["doc_id"]
    got, n = _jobs(spark, lambda: decode_job.lookup(spark, out, [doc_id]).toArrow())
    assert n <= lookup_max
    assert got.column("doc_id").to_pylist() == [doc_id]

    token = 100_001
    got, n = _jobs(spark, lambda: decode_job.scan_token(spark, out, token).count())
    assert n <= scan_max
    assert got == df.filter(F.array_contains("tokens", token)).count() > 0


def test_two_attempt_decode_job_counts(spark, bloom_table, tables, executor):
    """decode of a two-attempt table keeps each chunk at its earliest
    attempt through the metadata read's admitted ids, not a dedup
    semi-join: it plans in 0 / 1 jobs, and toArrow is one payload scan
    (the semi-join's shuffle made it 3)."""
    df, _ = bloom_table
    out = tables["two_attempts"]
    dec, planning = _jobs(spark, lambda: decode_job.decode(spark, out))
    assert planning == {"driver": 0, "spark": 1}[executor]
    got, n = _jobs(spark, lambda: dec.toArrow())
    assert n == 1
    assert got.num_rows == df.count()


@pytest.mark.parametrize("column", [None, "tokens", "doc_id"])
def test_metadata_scan_reads_no_payload(spark, bloom_table, column, monkeypatch):
    _, out = bloom_table
    plan = decode_job._thin_scan(spark, out, column)._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert scans, plan
    for line in scans:
        # the scan's column list (ReadSchema itself prints truncated)
        read = line.split("FileScan parquet [", 1)[1].split("]", 1)[0]
        assert "chunk_id" in read and "payload_" not in read, line

    # the driver executor's pyarrow read: the columns each file gives up
    read, real = [], decode_job._thin_read
    monkeypatch.setattr(decode_job, "_thin_read", lambda *a: read.append(real(*a)) or read[-1])
    decode_job.table_meta(spark, out, column, admit=lambda cid, nb, m: True)
    assert read
    for t in read:
        assert "chunk_id" in t.column_names, t.column_names
        assert not [c for c in t.column_names if c.startswith("payload_")], t.column_names


def test_lookup_hashes_ids_like_spark(spark):
    """lookup buckets ids by catalyst's XXH64 called over py4j; it must
    equal F.xxhash64, which assign_chunks buckets by."""
    ids = ["", "dökümän-ü-ß-😀", "src#3#doc", "doc-000001"]
    want = [
        r["h"] for r in spark.createDataFrame([(i, d) for i, d in enumerate(ids)], "i int, d string")
        .select("i", F.xxhash64("d").alias("h")).orderBy("i").collect()
    ]
    assert chunking.spark_xxhash64(spark, ids) == want


# ------------------------------------------------ executor parity

def _bloom_file(out):
    (path,) = glob.glob(f"{out}/encoded/attempt=1/*.parquet")
    return pq.read_table(path)


def _write(root, attempt, t):
    d = os.path.join(root, "encoded", f"attempt={attempt}")
    os.makedirs(d, exist_ok=True)
    if t is not None:
        pq.write_table(t, os.path.join(d, "part-0.parquet"))


@pytest.fixture(scope="module")
def tables(bloom_table, tmp_path_factory):
    """Stored tables that exercise the metadata read, by name: the bloom
    table (one attempt, an extra column); two attempts (the first holding
    half the chunks, so those stay at attempt 1 and the rest at 2); a
    second attempt whose one chunk stores `score` as float (conflicting
    dtypes); an empty `attempt=9` dir beside the table; only an empty
    attempt dir; a schema-only file; and no `encoded/` dir at all."""
    _, out = bloom_table
    t = _bloom_file(out)
    root = tmp_path_factory.mktemp("tables")
    rows = t.slice(0, 1).to_pylist()
    for c in rows[0]["columns"]:
        if c["column"] == "score":
            c["dtype"] = "float"
    layouts = {
        "two_attempts": {1: t.slice(0, t.num_rows // 2), 2: t},
        "conflicting": {1: t, 2: pa.Table.from_pylist(rows, schema=t.schema)},
        "empty_attempt": {1: t, 9: None},
        "only_empty_attempt": {1: None},
        "schema_only": {1: t.slice(0, 0)},
        "missing": {},
    }
    paths = {"bloom": out}
    for name, layout in layouts.items():
        paths[name] = str(root / name)
        os.makedirs(paths[name])
        for attempt, part in layout.items():
            _write(paths[name], attempt, part)
    return paths


def _ops(df):
    """One call per read op, each returning a DataFrame."""
    doc_id = df.orderBy("doc_id").first()["doc_id"]
    n_tok = sorted(r["n_tok"] for r in df.select("n_tok").collect())
    return {
        "decode": lambda s, o: decode_job.decode(s, o),
        "lookup": lambda s, o: decode_job.lookup(s, o, [doc_id, "no-such-doc"]),
        "scan_token": lambda s, o: decode_job.scan_token(s, o, 100_001),
        "scan_token_absent": lambda s, o: decode_job.scan_token(s, o, 2_000_000_000),
        "scan_value_range": lambda s, o: decode_job.scan_value_range(s, o, "n_tok", 0, n_tok[len(n_tok) // 2]),
        "chunks_containing_value": lambda s, o: decode_job.chunks_containing_value(s, o, "doc_id", doc_id),
    }


def _both(spark, monkeypatch, out, op):
    """{executor: (attempts, types in order, admitted, row count)} of one op
    on `out`, or (exception type, message) where it raised."""
    metas, real = [], decode_job.table_meta
    monkeypatch.setattr(decode_job, "table_meta", lambda *a, **k: metas.append(real(*a, **k)) or metas[-1])
    got = {}
    for name, limit in EXECUTORS.items():
        monkeypatch.setattr(decode_job, "DRIVER_PLAN_MAX_BYTES", limit)
        try:
            n = op(spark, out).count()
        except Exception as e:  # noqa: BLE001 — both executors must raise alike
            got[name] = (type(e), str(e))
            continue
        m = metas[-1]
        got[name] = (m.attempts, list(m.types.items()), m.admitted, n)
    return got


@pytest.mark.parametrize("table", [
    "bloom", "two_attempts", "conflicting", "empty_attempt", "only_empty_attempt",
    "schema_only", "missing",
])
def test_executors_agree(spark, bloom_table, tables, monkeypatch, table):
    """The driver and Spark executors return an equal TableMeta (attempts,
    types in order, admitted) and op result on every read op — or raise the
    same error: conflicting dtypes, or no `encoded/` dir (naming it)."""
    df, _ = bloom_table
    out = tables[table]
    for name, op in _ops(df).items():
        got = _both(spark, monkeypatch, out, op)
        assert got["driver"] == got["spark"], (name, got)
        res = got["driver"]
        if table == "conflicting":
            assert res[0] is ValueError and "conflicting dtypes" in res[1]
        elif table == "missing":
            assert res[0] is FileNotFoundError and f"{out}/encoded" in res[1]
        elif table in ("bloom", "two_attempts", "empty_attempt"):
            assert res[1][-1] == ("score", "double"), res
            assert name == "decode" or res[2] is not None, res  # an admitted dict
    if table == "two_attempts":
        every = {}
        for name, limit in EXECUTORS.items():
            monkeypatch.setattr(decode_job, "DRIVER_PLAN_MAX_BYTES", limit)
            every[name] = decode_job.table_meta(spark, out, admit=lambda *a: True).admitted
        assert every["driver"] == every["spark"]
        assert set(every["driver"].values()) == {1, 2}  # each chunk at its earliest attempt
        got = _both(spark, monkeypatch, out, _ops(df)["decode"])["driver"]
        assert got[0] == [1, 2] and got[3] == df.count()
    if table == "empty_attempt":
        assert got["driver"][0] == [1, 9]
    if table in ("only_empty_attempt", "schema_only"):
        with pytest.raises(ValueError, match="no chunks found"):
            read_encoded_local(out)


def test_executors_agree_past_the_cap(spark, bloom_table, monkeypatch):
    """Past LOOKUP_ISIN_CAP admitted chunks both executors leave `admitted`
    None, and the payload scan semi-joins a fresh metadata scan."""
    df, out = bloom_table
    monkeypatch.setattr(decode_job, "LOOKUP_ISIN_CAP", 1)
    ids = [r["doc_id"] for r in df.select("doc_id").limit(40).collect()]
    ops = _ops(df)
    ops["lookup"] = lambda s, o: decode_job.lookup(s, o, ids)
    for name in ("lookup", "scan_token", "scan_value_range"):
        got = _both(spark, monkeypatch, out, ops[name])
        assert got["driver"] == got["spark"], (name, got)
        assert got["driver"][2] is None and got["driver"][3] > 0, (name, got)
    assert _both(spark, monkeypatch, out, ops["lookup"])["driver"][3] == len(ids)


def _run_script(tmp_path, body: str) -> str:
    """Run `body` as a fresh Python process that imports tokenlake from its
    own sys.path (no PYTHONPATH export, working directory elsewhere); its
    stdout."""
    script = tmp_path / "script.py"
    script.write_text(f"import sys\nsys.path.insert(0, {REPO!r})\n" + body)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TOKENLAKE_DRIVER_MEM"] = "512m"
    r = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return r.stdout


def test_local_workers_import_the_package_without_pythonpath(tmp_path):
    """A caller that imports tokenlake from its own sys.path still gets
    Python workers that can unpickle tokenlake UDFs."""
    out = _run_script(tmp_path, (
        "from tokenlake import encode_job\n"
        "from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences\n"
        "from tokenlake.session import get_spark\n"
        "spark = get_spark(master='local[1]')\n"
        "tbl = generate_sequences(scale=0.002, profiles=['lowcard'], skew=False)\n"
        "df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)\n"
        "print('chunks', encode_job.encode_dataframe(df).count())\n"
    ))
    assert "chunks " in out


def test_local_workers_fork_with_the_kernels_loaded(tmp_path):
    """Every Python worker of a local session starts with pandas and the
    encode, decode and lint kernels already imported (forked from
    tokenlake.daemon): a UDF that references no tokenlake code finds them
    in sys.modules before its first pa.array() call, in each of 4 tasks."""
    out = _run_script(tmp_path, (
        "import pyarrow as pa\n"
        "from tokenlake.session import get_spark\n"
        "MODULES = ('pandas', 'tokenlake.encode_job', 'tokenlake.decode_job', 'tokenlake.lint_job')\n"
        "def probe(batches):\n"
        "    missing = [m for m in MODULES if m not in sys.modules]\n"
        "    for _ in batches:\n"
        "        pass\n"
        "    yield pa.RecordBatch.from_pydict({'missing': [','.join(missing)]})\n"
        "spark = get_spark(master='local[2]')\n"
        "rows = spark.range(0, 8, numPartitions=4).mapInArrow(probe, 'missing string').collect()\n"
        "print('missing', [r.missing for r in rows])\n"
    ))
    assert "missing ['', '', '', '']" in out, out


# ------------------------------------------------ write ops

@pytest.fixture(scope="module")
def repro(spark, tmp_path_factory):
    """A 19-chunk table (four sources, run(max_rows=60)) and a two-batch
    copy of it (salts b1 and b2: 38 chunks over two attempts)."""
    tbl = generate_sequences(
        scale=0.02, seed=5, skew=False, profiles=["lowcard", "sorted_ts", "runs", "random"]
    )
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA).cache()
    root = tmp_path_factory.mktemp("repro")
    one, two = str(root / "one"), str(root / "two")
    encode_job.run(spark, df, one, max_rows=60)
    for salt in ("b1", "b2"):
        encode_job.run(spark, df, two, max_rows=60, salt=salt)
    return df, one, two


def _lineage_totals(spark, out):
    """The summary totals re-read from all of `lineage/`."""
    r = spark.read.parquet(f"{out}/lineage").filter(F.col("status") == "complete").agg(
        F.countDistinct("chunk_id"), F.sum("encoded_bytes"), F.sum("raw_bytes")
    ).first()
    return tuple(r)


def _payloads(spark, out):
    return {
        r["chunk_id"]: bytes(r["payload_tokens"])
        for r in spark.read.parquet(f"{out}/encoded").select("chunk_id", "payload_tokens").collect()
    }


def test_run_job_counts(spark, repro, tmp_path, executor):
    """run() reads lineage in one aggregate and the table through
    table_meta (one job on the Spark executor), and its summary adds the
    lineage write's observed totals instead of re-reading lineage: a fresh
    run takes ≤ 5 jobs, a resumed or appending one ≤ 11 / 12. The
    summaries equal the totals of all of lineage."""
    resumed_max = {"driver": 11, "spark": 12}[executor]
    df, _, _ = repro
    out = str(tmp_path / "out")
    fresh, n = _jobs(spark, lambda: encode_job.run(spark, df, out, max_rows=60))
    assert n <= 5
    assert (fresh["chunks"], fresh["skipped_chunks"], fresh["attempt"]) == (19, 0, 1)
    assert _lineage_totals(spark, out) == (19, fresh["encoded_bytes"], fresh["raw_bytes"])

    resumed, n = _jobs(spark, lambda: encode_job.run(spark, df, out, max_rows=60))
    assert n <= resumed_max
    assert resumed == {**fresh, "skipped_chunks": 19, "attempt": 2}

    appended, n = _jobs(spark, lambda: encode_job.run(spark, df, out, max_rows=60, salt="b2"))
    assert n <= resumed_max
    assert (appended["chunks"], appended["skipped_chunks"], appended["attempt"]) == (38, 19, 3)
    assert appended["encoded_bytes"] == 2 * fresh["encoded_bytes"]
    assert _lineage_totals(spark, out) == (38, appended["encoded_bytes"], appended["raw_bytes"])


def test_ingest_lifecycle_job_counts(spark, repro, tmp_path):
    """lint → prescription → run() in ≤ 10 jobs. Two-pass lint builds its
    decisions on the driver from its totals and its screening pass, with no
    checkpoint, count or orderBy job, in ≤ 5; no source here screens below
    the deep fraction, so no deep pass runs. The prescription folds lint's
    local frame in 0 jobs, and a fresh run() takes ≤ 5."""
    df, _, _ = repro
    d, n = _jobs(spark, lambda: lint_job.lint(spark, df, max_rows=60))
    assert n <= 5
    rows, n = _jobs(spark, d.collect)
    assert n == 0 and min(r["sample_fraction"] for r in rows) > 0.05
    rx, n = _jobs(spark, lambda: lint_job.prescription_from_decisions(d))
    assert n == 0
    out = str(tmp_path / "out")
    summary, n = _jobs(spark, lambda: encode_job.run(spark, df, out, cfg=rx.apply(), max_rows=60))
    assert n <= 5 and summary["chunks"] == 19


def test_lint_encoded_job_count(spark, repro, executor):
    """lint_encoded reads the metrics through table_meta, each chunk at its
    earliest attempt, with no dedup join: collecting it is 1 / 2 jobs."""
    _, one, two = repro
    for out in (one, two):
        rows, n = _jobs(spark, lambda: lint_job.lint_encoded(spark, out).collect())
        assert n <= {"driver": 1, "spark": 2}[executor]
        assert len({r["chunk_id"] for r in rows}) == {one: 19, two: 38}[out]


def test_compact_merges_only_sources_with_two_undersized_chunks(spark, repro, tmp_path, executor):
    """The encoder buckets per source, so compact re-encodes only sources
    with at least two undersized chunks. On the one-batch table each
    undersized chunk is its source's only one: nothing is re-encoded and
    every byte stays. On the two-batch table the same 3 sources hold 2
    each: 6 merge into 3, in ≤ 28 / 31 jobs, and every kept chunk's
    payload is byte-identical."""
    df, one, two = repro
    r = encode_job.compact(spark, one, str(tmp_path / "c1"), min_rows=45, max_rows=400)
    assert (r["merged_chunks"], r["chunks_before"], r["chunks_after"]) == (0, 19, 19)
    assert r["bytes_after"] == r["bytes_before"]
    assert _payloads(spark, str(tmp_path / "c1")) == _payloads(spark, one)

    dest = str(tmp_path / "c2")
    r, n = _jobs(spark, lambda: encode_job.compact(spark, two, dest, min_rows=45, max_rows=400))
    assert n <= {"driver": 28, "spark": 31}[executor]
    assert (r["merged_chunks"], r["chunks_before"], r["chunks_after"]) == (6, 38, 35)
    assert _lineage_totals(spark, dest)[:2] == (35, r["bytes_after"])
    src, got = _payloads(spark, two), _payloads(spark, dest)
    kept = [c for c in got if c in src]
    assert len(kept) == 32 and all(got[c] == src[c] for c in kept)
    assert decode_job.decode(spark, dest).count() == 2 * df.count()


def test_rewrite_from_evidence_job_count(spark, repro, tmp_path, executor):
    """rewrite_from_evidence on the two-batch table plans from table_meta
    and run()'s lineage aggregate: ≤ 42 / 46 jobs, and kept payloads stay
    byte-identical."""
    df, _, two = repro
    dest = str(tmp_path / "r2")
    r, n = _jobs(spark, lambda: encode_job.rewrite_from_evidence(spark, two, dest))
    assert n <= {"driver": 42, "spark": 46}[executor]
    assert (r["chunks_total"], r["kept_chunks"], r["rewritten_chunks"]) == (38, 16, 22)
    src, got = _payloads(spark, two), _payloads(spark, dest)
    kept = [c for c in got if c in src]
    assert len(kept) == 16 and all(got[c] == src[c] for c in kept)
    assert decode_job.decode(spark, dest).count() == 2 * df.count()


def _tree(root):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


def test_run_refuses_to_pick_an_attempt_when_the_listing_fails(spark, repro, tmp_path, monkeypatch):
    """run() must never reuse an attempt number, so a failed `encoded/`
    listing raises before anything is written: on a local path the
    listing's own error, on a non-local one (where table_meta reads a
    failed listing as "many attempts") a refusal naming the dir."""
    df, one, _ = repro
    out = str(tmp_path / "out")
    shutil.copytree(one, out)
    before = _tree(out)

    def fail(*a, **k):
        raise OSError("listing failed")

    with monkeypatch.context() as m:
        m.setattr(decode_job, "_list_encoded", fail)
        with pytest.raises(OSError, match="listing failed"):
            encode_job.run(spark, df, out, max_rows=60, salt="b2")
    assert _tree(out) == before

    monkeypatch.setattr(decode_job, "_driver_fs", lambda *a: None)
    monkeypatch.setattr(decode_job, "_encoded_attempts", fail)
    with pytest.raises(OSError, match=f"cannot list {out}/encoded"):
        encode_job.run(spark, df, out, max_rows=60, salt="b2")
    assert _tree(out) == before
