"""Structured-Streaming ingest tests: files → micro-batch encode → decode,
bit-identical, with the second file drop picked up incrementally."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tokenlake import decode_job, streaming
from tokenlake.schema import generate_sequences
from tokenlake.verify import verify_bit_identical


@pytest.fixture()
def stream_dirs(tmp_path):
    inp = tmp_path / "incoming"
    out = tmp_path / "out"
    inp.mkdir()
    return str(inp), str(out)


def _drop_file(inp: str, name: str, profiles, scale=0.01):
    tbl = generate_sequences(scale=scale, profiles=profiles, skew=False)
    pq.write_table(tbl, os.path.join(inp, name))
    return tbl.num_rows


def test_stream_encode_two_drops_bit_identical(spark, stream_dirs):
    inp, out = stream_dirs
    n1 = _drop_file(inp, "part1.parquet", ["lowcard", "runs"])
    q = streaming.encode_stream(spark, inp, out)
    q.awaitTermination(120)
    dec1 = decode_job.decode(spark, out)
    assert dec1.count() == n1

    # second drop: a new file arrives; a fresh availableNow pass (same
    # checkpoint) must encode ONLY the new file, into new salted chunks
    n2 = _drop_file(inp, "part2.parquet", ["sorted_ts", "ngram"])
    q2 = streaming.encode_stream(spark, inp, out)
    q2.awaitTermination(120)

    src = spark.read.parquet(inp)
    dec = decode_job.decode(spark, out)
    assert dec.count() == n1 + n2
    result = verify_bit_identical(src, dec)
    assert result["pass"], result

    # chunk ids are batch-salted: source#b<batch>#bucket
    enc = spark.read.parquet(f"{out}/encoded")
    salts = {
        r["chunk_id"].split("#")[1]
        for r in enc.select("chunk_id").distinct().collect()
    }
    assert all(s.startswith("b") for s in salts)
    assert len(salts) >= 2  # two micro-batches


def test_stream_input_dir_checked_on_the_filesystem(spark, tmp_path, monkeypatch):
    """encode_stream decides "missing or no data files → canonical schema"
    on the Hadoop FS, with no failing footer read: once an Observation has
    run in the session, as every run() does, its listener logs each failed
    query as an error. A dir of hidden files only streams nothing; a missing
    dir is refused by Spark's file stream itself, as before."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    from tokenlake import encode_job
    from tokenlake.schema import SEQUENCES_SPARK_SCHEMA

    tbl = generate_sequences(scale=0.002, profiles=["lowcard"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    encode_job.run(spark, df, str(tmp_path / "table"))
    reads, real = [], DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet", lambda self, *p, **k: reads.append(p) or real(self, *p, **k)
    )
    empty = tmp_path / "empty"
    (empty / "_hidden").mkdir(parents=True)
    (empty / "_SUCCESS").touch()
    (empty / "_hidden" / "part-0.parquet").touch()
    q = streaming.encode_stream(spark, str(empty), str(tmp_path / "o1"))
    q.awaitTermination(120)
    assert q.exception() is None and not (tmp_path / "o1" / "encoded").exists()
    missing = str(tmp_path / "missing")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        streaming.encode_stream(spark, missing, str(tmp_path / "o2"))
    assert reads == []


def test_dedup_stream_cross_batch_state(spark, stream_dirs):
    """Streaming dedup: a second micro-batch that is a strict content subset
    of the first must contribute ZERO output rows — the seen state survives
    across batches. The state operator must be the built-in JVM `dedupe`
    (streaming dropDuplicates), not a Python stage: round 2's
    applyInPandasWithState paid one Python call per distinct document."""
    import json

    from tokenlake.schema import SEQUENCES_SPARK_SCHEMA

    inp, out = stream_dirs
    tbl = generate_sequences(scale=0.01, profiles=["lowcard"], skew=False)
    pq.write_table(tbl, os.path.join(inp, "a.parquet"))
    pq.write_table(tbl.slice(0, 50), os.path.join(inp, "b.parquet"))  # all dups
    q = streaming.dedup_stream(spark, inp, out, max_files_per_trigger=1)
    q.awaitTermination(180)
    ops = {
        s["operatorName"]
        for p in q.recentProgress
        for s in json.loads(p.json).get("stateOperators", [])
    }
    assert ops == {"dedupe"}, ops  # JVM state store, no Python stage
    got = spark.read.parquet(f"{out}/deduped")
    n_hash = (
        spark.createDataFrame(tbl.to_pandas(), SEQUENCES_SPARK_SCHEMA)
        .select(F.md5(F.col("tokens").cast("string")))
        .distinct()
        .count()
    )
    assert got.count() == n_hash
    assert got.select("doc_id").distinct().count() == got.count()


def test_windowed_stats_watermark_drops_late_events(spark, stream_dirs):
    """Watermark semantics end-to-end: batch 2's max event time advances the
    watermark so batch 1's windows become final and emit; a batch-2 event
    whose window the watermark already closed is dropped, not retracted."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa

    inp, out = stream_dirs

    def events(rows, name):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False).cast(
                pa.schema(
                    [
                        ("event_id", pa.int64()),
                        ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()),
                        ("event_type", pa.string()),
                        ("value", pa.float64()),
                        ("props", pa.string()),
                    ]
                )
            ),
            os.path.join(inp, name),
        )

    h = lambda hour, minute=30: dt.datetime(2026, 1, 1, hour, minute)
    events(
        [
            (1, h(1), 1, "click", 1.0, ""),
            (2, h(1, 45), 1, "click", 2.0, ""),
            (3, h(2), 2, "view", 3.0, ""),
            (4, h(3), 2, "click", 4.0, ""),
        ],
        "b1.parquet",
    )
    # batch 1: sets the watermark to 03:30 - 1h = 02:30 (persisted in the
    # checkpoint — the second availableNow run resumes it)
    streaming.windowed_stats(spark, inp, out).awaitTermination(180)
    events(
        [
            (5, h(5), 3, "view", 5.0, ""),  # advances watermark to 04:30
            (6, h(1, 50), 3, "click", 99.0, ""),  # LATE: behind the 02:30 watermark → dropped
        ],
        "b2.parquet",
    )
    streaming.windowed_stats(spark, inp, out).awaitTermination(180)
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(f"{out}/windows").collect()
    }
    # hour-1..3 windows emitted with batch-1 contents only (late 99.0 absent)
    assert got[(1, "click")] == (2, 3.0)
    assert got[(2, "view")] == (1, 3.0)
    assert got[(3, "click")] == (1, 4.0)
    # the hour-5 window is still open (watermark hasn't passed it) → not emitted
    assert (5, "view") not in got


def test_stream_rerun_is_idempotent(spark, stream_dirs):
    inp, out = stream_dirs
    _drop_file(inp, "only.parquet", ["smallrange"])
    streaming.encode_stream(spark, inp, out).awaitTermination(120)
    rows1 = decode_job.decode(spark, out).count()
    # re-running with the same checkpoint and no new files must be a no-op
    streaming.encode_stream(spark, inp, out).awaitTermination(120)
    enc = spark.read.parquet(f"{out}/encoded")
    assert decode_job.decode(spark, out).count() == rows1
    # no duplicate chunk payload rows
    dups = enc.groupBy("chunk_id").count().filter(F.col("count") > 1).count()
    assert dups == 0


def test_stream_then_compact_merges_batch_fragments(spark, stream_dirs, tmp_path):
    """The full maintenance loop: two micro-batch ingests fragment each
    source across batch-salted chunks; compact() merges the fragments and
    the compacted table stays bit-identical and lookup-able."""
    from tokenlake import encode_job

    import pyarrow as pa
    import pyarrow.compute as pc

    inp, out = stream_dirs
    _drop_file(inp, "part1.parquet", ["lowcard", "runs"])
    streaming.encode_stream(spark, inp, out).awaitTermination(120)
    # second drop: same SOURCES (so fragments can merge) but new doc ids
    tbl = generate_sequences(scale=0.01, profiles=["lowcard", "runs"], skew=False)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("doc_id"),
        "doc_id",
        pc.binary_join_element_wise(pc.cast(tbl.column("doc_id"), pa.string()), "x2", ""),
    )
    pq.write_table(tbl, os.path.join(inp, "part2.parquet"))
    streaming.encode_stream(spark, inp, out).awaitTermination(120)

    enc = decode_job.table_meta(spark, out).pruned()
    chunks_before = enc.count()
    # every chunk is a batch fragment (two drops of small profiles)
    dest = str(tmp_path / "compacted")
    s = encode_job.compact(spark, out, dest, min_rows=1 << 15)
    assert s["merged_chunks"] == chunks_before
    assert s["chunks_after"] < chunks_before  # same-source fragments merged

    src = spark.read.parquet(inp)
    assert verify_bit_identical(src, decode_job.decode(spark, dest))["pass"]
    want = [r["doc_id"] for r in src.select("doc_id").limit(2).collect()]
    hit = decode_job.lookup(spark, dest, want)
    assert sorted(r["doc_id"] for r in hit.collect()) == sorted(want)


def test_dedup_stream_keeps_all_null_token_rows(spark, stream_dirs):
    """md5(NULL) is NULL and dropDuplicates groups NULL keys together: rows
    with NULL tokens used to collapse to one survivor. They have no content
    to dedup ON, so each must pass through (keyed by doc_id)."""
    import pyarrow as pa

    inp, out = stream_dirs
    tbl = pa.table(
        {
            "doc_id": pa.array([f"n{i}" for i in range(6)]),
            "tokens": pa.array([None, None, None, [1, 2], [1, 2], [3]], pa.list_(pa.int32())),
            "n_tok": pa.array([None, None, None, 2, 2, 1], pa.int32()),
            "source": pa.array(["s"] * 6),
        }
    )
    pq.write_table(tbl, os.path.join(inp, "a.parquet"))
    q = streaming.dedup_stream(spark, inp, out)
    q.awaitTermination(180)
    got = spark.read.parquet(f"{out}/deduped")
    # 3 null-token rows all kept + 2 distinct contents = 5
    assert got.count() == 5
    assert got.filter(F.col("tokens").isNull()).count() == 3


def test_stream_encode_with_curation_transform(spark, stream_dirs, tmp_path):
    """Ingest-time curation gates: the transform hook filters the STREAM
    with tokenops signals — a per-row repetition gate plus a stream-static
    LEFT ANTI decontamination join against a broadcast eval span set —
    before the exactly-once encode sink. Only clean docs land encoded."""
    import pyarrow as pa

    from tokenlake import tokenops

    inp, out = stream_dirs
    rep = [5] * 10                                   # repetitive
    leak = [1, 2, 3, 4, 9, 9]                        # shares (1234) with eval
    clean = [11, 12, 13, 14, 15]
    t = pa.table(
        {
            "doc_id": pa.array(["r", "l", "c"]),
            "tokens": pa.array([rep, leak, clean], pa.list_(pa.int32())),
            "n_tok": pa.array([len(rep), len(leak), len(clean)], pa.int32()),
            "source": pa.array(["web"] * 3),
        }
    )
    pq.write_table(t, os.path.join(inp, "drop1.parquet"))

    ev = spark.createDataFrame(
        [("e", [0, 1, 2, 3, 4], 5, "eval")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    # the streaming-correct decontamination shape: derived-from-the-stream
    # join sides are unsupported (left-anti with a streaming right), so the
    # eval span set becomes a per-row arrays_overlap literal — an eval
    # suite is small, and the literal ships once with the plan
    ev_spans = [
        r["span"]
        for r in ev.select(
            F.explode(tokenops.span_keys("tokens", 4)).alias("span")
        ).distinct().collect()
    ]

    def curate(stream):
        not_repetitive = F.size(F.array_distinct("tokens")) * 2 > F.size("tokens")
        clean_of_eval = ~F.arrays_overlap(
            tokenops.span_keys("tokens", 4), F.lit(ev_spans)
        )
        return stream.filter(not_repetitive & clean_of_eval)

    q = streaming.encode_stream(spark, inp, out, transform=curate)
    q.awaitTermination(120)
    dec = decode_job.decode(spark, out)
    kept = {r["doc_id"] for r in dec.select("doc_id").collect()}
    assert kept == {"c"}
