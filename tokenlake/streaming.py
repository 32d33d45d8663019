"""Structured Streaming ingest: continuously encode arriving sequence files.

The reference is batch-only (SURVEY.md §2.8: no streaming operators), but a
10^12-sequence corpus is ingested continuously, so the engine exposes the
encode path as a streaming sink. Spark shape:

    readStream(parquet dir, fixed schema)
      → foreachBatch(encode_job.run)       # the SAME chunked encode path
      → encoded/ + lineage/ append

Exactly-once story, two independent layers:
- Spark's streaming checkpoint makes each source file part of exactly one
  micro-batch, and re-runs a failed batch under the same batch_id;
- within a batch, chunk ids are salted with the batch_id
  (`source#b<batch_id>#<bucket>`) and the lineage fingerprints make the
  re-run of a half-committed batch skip already-complete chunks
  (encode_job resume semantics) — so a crash anywhere replays to the same
  encoded table with no duplicates and no loss.

Decode is oblivious to how rows arrived: every chunk payload is
self-contained under its chunk_id.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from . import encode_job
from .plan import EncodeConfig
from .schema import SEQUENCES_SPARK_SCHEMA


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists and holds a file a Spark scan would read:
    entries under a `.`- or `_`-prefixed name are skipped, as the scan
    skips them. Stops at the first such file."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return False
    prefix = fs.makeQualified(root).toUri().getPath().rstrip("/") + "/"
    files = fs.listFiles(root, True)
    while files.hasNext():
        rel = files.next().getPath().toUri().getPath()[len(prefix):]
        if not any(p.startswith((".", "_")) for p in rel.split("/")):
            return True
    return False


def encode_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cfg: EncodeConfig | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    schema: str | None = None,
    transform=None,
):
    """Start the streaming encode; returns the StreamingQuery.

    `transform(stream_df) -> stream_df` runs curation gates at ingest:
    any streaming-compatible transformation works — per-row expressions
    (tokenops.sequence_quality signals; decontamination as an
    arrays_overlap check of tokenops.span_keys against the eval span set
    as a plan literal), or stream-static joins with a STATIC right side.
    A join side derived from the stream itself is not streaming-legal
    (Spark rejects left-anti with a streaming right), and cross-row state
    (span dedup) belongs in a batch pass over the encoded table instead;
    the checkpoint/salt exactly-once story is unchanged because the
    transform runs before the foreachBatch sink.

    available_now=True drains everything currently in input_dir and stops —
    the batch-backfill mode (and what tests use). With available_now=False the
    query keeps watching for new files (optionally rate-limited by
    max_files_per_trigger so one giant drop doesn't become one giant batch).

    `schema`: readStream needs the schema up front; default = the canonical
    four columns. When omitted AND the input dir already holds files with
    extra columns, their full schema is picked up from one batch-read of the
    directory footer so extras stream through the generic registry instead
    of being silently dropped.
    """
    if schema is None:
        # ONLY a missing dir or one with no data files falls back to the
        # canonical schema (Spark's file stream then refuses a missing dir):
        # swallowing a transient FS error here would pin a 4-column schema
        # for the query's checkpointed lifetime and silently drop every
        # extra column from the stream. Decided on the Hadoop FS, not by a
        # failing read: once an Observation has run in the session, its
        # listener logs every failed query as an error
        if _has_data_files(spark, input_dir):
            schema = spark.read.parquet(input_dir).schema  # footer sniff
        else:
            schema = SEQUENCES_SPARK_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    if transform is not None:
        stream = transform(stream)

    def sink(batch_df, batch_id: int) -> None:
        encode_job.run(
            batch_df.sparkSession,
            batch_df,
            out_dir,
            cfg=cfg,
            resume=True,
            salt=f"b{batch_id}",
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint or f"{out_dir}/_stream_checkpoint"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EVENTS_SPARK_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def windowed_stats(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Event-time windowed aggregation with a watermark — the late-data
    handling surface of Structured Streaming: tumbling `window` counts/sums
    per event_type, events older than `watermark` behind the observed
    max event time are DROPPED, and a window only emits (append mode) once
    the watermark passes its end — i.e. results are final, never retracted.

    Scale shape: partial aggregation before the shuffle on
    (window, event_type); state store holds only open windows.
    Returns the StreamingQuery; results land in out_dir/windows."""
    reader = spark.readStream.schema(EVENTS_SPARK_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", f"{out_dir}/windows")
        .option("checkpointLocation", checkpoint or f"{out_dir}/_win_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    within_watermark: str | None = None,
):
    """STATEFUL streaming operator: cross-micro-batch exact dedup — only the
    first occurrence of each content hash, across the stream's lifetime,
    passes through to `out_dir/deduped`.

    The reference has no streaming at all (SURVEY.md §2.8); a continuously
    ingested training corpus needs dedup state that survives batches, which
    `foreachBatch` alone can't give.

    Scale shape: the dedup is Spark's built-in streaming `dropDuplicates` on
    the hash column — state lives ENTIRELY in the JVM state store
    (RocksDB-backed on a real cluster, checkpointed with the query), the
    per-batch shuffle is an equi-partition on the uniform hash key, and no
    Python stage ever runs. Round 2 used `applyInPandasWithState`, which paid
    one Python group-call per DISTINCT DOCUMENT in steady state (~10^12 calls
    at corpus scale) for state the built-in operator manages natively —
    exactly the per-row-Python pattern the north rule forbids.

    Exact lifetime dedup must remember every hash (state grows with distinct
    content; that is the semantics, not a leak). When re-ingests are known to
    arrive within a bounded delay, pass `within_watermark` (e.g. "24 hours"):
    the operator switches to `dropDuplicatesWithinWatermark` over an
    ingest-time watermark, and the state store expires hashes older than the
    bound — O(arrival-rate × window) state instead of O(corpus).

    Returns the StreamingQuery.
    """
    reader = spark.readStream.schema(SEQUENCES_SPARK_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # null-token rows have no content to dedup ON: md5(NULL) is NULL and
    # dropDuplicates groups NULL keys together, so all-but-one null-token
    # row would vanish — key them by doc_id instead (each passes through)
    stream = reader.parquet(input_dir).withColumn(
        "content_hash",
        F.coalesce(
            F.md5(F.col("tokens").cast("string")),
            F.concat(F.lit("\x00null-tokens:"), F.col("doc_id")),
        ),
    )

    if within_watermark is not None:
        deduped = (
            stream.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", within_watermark)
            .dropDuplicatesWithinWatermark(["content_hash"])
            .drop("ingest_ts")
        )
    else:
        deduped = stream.dropDuplicates(["content_hash"])

    writer = (
        deduped.drop("content_hash")
        .writeStream.format("parquet")
        .option("path", f"{out_dir}/deduped")
        .option("checkpointLocation", checkpoint or f"{out_dir}/_dedup_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
