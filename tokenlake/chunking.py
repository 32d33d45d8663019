"""Chunk planning: n_tok-aware bucket fan-out with deterministic chunk ids.

The reference's R7 `page-row-group-size` rule caps row groups at 64 Ki rows /
256 MB compressed (src/parquet-linter/src/rules/page_size.rs:7-10, 19-115).
Our encode chunk is the row-group analog, so the same two caps drive the
bucket count per source.

Scale design (axes A of the north_rule):
- chunk_id = f"{source}#{xxhash64(doc_id) % nbuckets}" — a pure function of
  the DATA, not of Spark partitioning, so resume, re-runs, and different
  cluster sizes all agree on chunk identity (SURVEY.md §7 hard-point c).
- Skewed sources get proportionally more buckets (the 70%-hot source fans out
  over many buckets ⇒ salting falls out of the plan; no single reducer sees
  the hot key).
- The per-source totals aggregation is one partial+final groupBy over two
  long columns — O(#sources) result, fine at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# R7 row cap (page_size.rs:7-10): 64 Ki rows per chunk.
MAX_CHUNK_ROWS = 64 * 1024
# Value cap: 4 Mi tokens (16 MB of int32) per chunk. R7's byte cap is 256 MB,
# but the encode kernels are memory-bandwidth-bound, so many medium chunks beat
# few huge ones: stragglers shrink (critical path = largest chunk) and the
# per-chunk working set stays cache-friendlier. Codec tables (dict/FSST) are
# KB-sized and amortize fully well below 16 MB.
MAX_CHUNK_VALUES = 4 * 1024 * 1024


def buckets_from_totals(
    totals: DataFrame,
    max_rows: int = MAX_CHUNK_ROWS,
    max_values: int = MAX_CHUNK_VALUES,
) -> DataFrame:
    """(source, rows, values) totals → (source, nbuckets). THE bucket-count
    formula — every consumer (encode, lint) must route through here so chunk
    ids agree across jobs."""
    return totals.select(
        "source",
        F.greatest(
            F.ceil(F.col("rows") / max_rows),
            F.ceil(F.col("values") / max_values),
            F.lit(1),
        ).cast("int").alias("nbuckets"),
    )


def plan_buckets(
    df: DataFrame,
    max_rows: int = MAX_CHUNK_ROWS,
    max_values: int = MAX_CHUNK_VALUES,
) -> DataFrame:
    """Per-source bucket counts: ceil(max(rows/max_rows, values/max_values)).

    Returns a tiny DataFrame (source, nbuckets) — broadcast-join it onto the
    input; never collected at scale.
    """
    totals = df.groupBy("source").agg(
        F.count("*").alias("rows"), F.sum("n_tok").alias("values")
    )
    return buckets_from_totals(totals, max_rows, max_values)


def assign_chunks(df: DataFrame, buckets: DataFrame, salt: str | None = None) -> DataFrame:
    """Add deterministic chunk_id; broadcast join keeps this shuffle-free.

    `salt` namespaces chunk ids (streaming uses the micro-batch id): two
    batches may route different row sets to the same (source, bucket), and
    chunk payloads must stay self-contained per chunk_id.
    """
    parts = [F.col("source")]
    if salt is not None:
        parts.append(F.lit(salt))
    parts.append(F.pmod(F.xxhash64("doc_id"), F.col("nbuckets")))
    # chunk identity is a pure function of (source, doc_id): a null source
    # cannot route. The bucket equi-join would otherwise silently DROP
    # null-source rows (null keys never match) — fail loudly instead, on
    # the join key itself so Catalyst cannot prune the check away.
    checked = F.when(F.col("source").isNotNull(), F.col("source")).otherwise(
        F.raise_error(
            F.lit(
                "null source value: chunk ids derive from (source, doc_id) "
                "and the bucket join cannot route null keys — filter or "
                "fill null sources before encoding"
            )
        )
    )
    # nbuckets rides along into the chunk metrics: lookups re-derive a doc's
    # candidate chunk ids from (prefix, nbuckets) without scanning payloads
    return df.withColumn("source", checked).join(F.broadcast(buckets), "source").withColumn(
        "chunk_id", F.concat_ws("#", *parts)
    )


def chunk_id_prefix(col: str = "chunk_id"):
    """Everything before a chunk id's trailing '#<bucket>' — the (source
    [+ salt]) prefix. NOT substring_index to the first '#': source names
    may contain '#'. THE shared derivation (lint's per-source fraction map;
    chunk_id_bucket is its Python complement) — the chunk-id grammar lives
    here, next to assign_chunks which writes it.
    """
    from pyspark.sql import functions as F

    return F.expr(
        f"substring({col}, 1, length({col})"
        f" - length(element_at(split({col}, '#'), -1)) - 1)"
    )


def chunk_id_bucket(chunk_id: str) -> str:
    """The trailing '<bucket>' of one chunk id string — chunk_id_prefix's
    complement, for driver- and UDF-side code (lookup's candidate test)."""
    return chunk_id.rsplit("#", 1)[-1]


def spark_xxhash64(spark: SparkSession, values: list[str]) -> list[int]:
    """Spark's `xxhash64` of each string — what assign_chunks buckets doc
    ids by: catalyst's XXH64 (seed 42) over the UTF-8 bytes, one py4j call
    per value and no query. The call goes through an XXH64 instance: the
    class's static `hashUnsafeBytes` shares its name with an instance
    method, and py4j's static lookup finds one or the other by JVM
    reflection order, so it fails in some JVM runs."""
    jvm = spark._jvm
    xxh64 = jvm.org.apache.spark.sql.catalyst.expressions.XXH64(42)
    offset = jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    return [xxh64.hashUnsafeBytes(b, offset, len(b)) for b in (v.encode() for v in values)]
