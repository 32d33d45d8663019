"""The decode job: encoded table → sequences, bit-identical.

Inverse of encode_job. Spark shape (round-2 layout, one row per chunk):
scan encoded parquet → `mapInArrow(decode_batches)` — **no shuffle at all**.
The round-1 tall layout (4 per-column rows per chunk) needed a
groupBy(chunk_id) exchange that moved the entire compressed corpus just to
reassemble chunks; with per-column payloads as columns of one chunk row,
every row is self-contained and decode is embarrassingly parallel over scan
splits. Payloads are self-describing (codecs/container.py) so decode needs
no plan — the reference's rewrite reads WriterProperties from the file
footer the same way (src/parquet-linter/src/fix.rs:25-70).

Arrow-native: the decoded flat token stream becomes the list array's value
buffer directly (one ListArray.from_arrays call — no per-row splitting, no
pandas object columns). The only Python loop is per CHUNK (64 Ki rows), the
same granularity the encode UDF already works at.

Read ops plan "footer first" (the reference reads a file's ParquetMetaData
once and plans from it, lib.rs:32): `table_meta` lists `encoded/` on the
driver and reads the thin metadata columns once, which yields the stored
dtypes and evaluates the op's pruning per chunk. Two executors run that one
read: a local table of at most DRIVER_PLAN_MAX_BYTES is read with pyarrow on
the driver and pruned in-process (no Spark job, no Python worker round
trip); any other table — larger, or on a non-local filesystem — is read by
ONE Spark job. Then one payload scan under the explicit encoded schema
decodes what was admitted — no schema inference, no candidate collects, no
dedup joins on pruned reads.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import os
from dataclasses import dataclass
from typing import Iterator
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from .chunking import chunk_id_bucket, spark_xxhash64
from .codecs import decode_column, decode_column_arrow
# shapes an array for Spark's Arrow interchange: large types narrow,
# fixed-size binary reads as binary, non-ns TIME units read as time64[ns]
from .codecs.container import _narrow_interchange as _narrow
from .codecs.bloom import hash_string, might_contain, might_contain_any
from .encode_job import COLMETA_FIELDS, encoded_schema_ddl

ALL_COLUMNS = ("doc_id", "tokens", "n_tok", "source")
# decode-side projection: which payloads each output column needs (`tokens`
# needs the length column to rebuild list offsets), and its Spark type
_COLUMN_PAYLOADS = {
    "doc_id": ("doc_id",),
    "tokens": ("tokens", "n_tok"),
    "n_tok": ("n_tok",),
    "source": ("source",),
}
_COLUMN_TYPES = {
    "doc_id": "string",
    "tokens": "array<int>",
    "n_tok": "int",
    "source": "string",
}


def _payloads_for(columns: tuple[str, ...], extra: dict[str, str] | None = None) -> list[str]:
    unknown = [
        c for c in columns if c not in _COLUMN_PAYLOADS and c not in (extra or {})
    ]
    if unknown:
        raise ValueError(
            f"unknown decode columns {unknown}; valid: {list(ALL_COLUMNS)}"
            + (f" + extras {sorted(extra)}" if extra else "")
        )
    need: list[str] = []
    for c in columns:
        for p in _COLUMN_PAYLOADS.get(c, (c,)):
            if p not in need:
                need.append(p)
    return need


def _ntok_parts(buf: bytes):
    """n_tok payload → (lens_for_offsets int64 with 0 at null rows,
    n_tok arrow array, row validity bool array or None)."""
    vals = decode_column(buf)
    if isinstance(vals, np.ndarray):
        return vals.astype(np.int64), pa.array(vals.astype(np.int32), pa.int32()), None
    arr = vals if isinstance(vals, pa.Array) else vals.combine_chunks()
    arr = arr.cast(pa.int32())
    valid = np.asarray(arr.is_valid())
    lens = np.asarray(pa.compute.fill_null(arr, 0), dtype=np.int64)
    return lens, arr, valid


def decode_chunk_row(
    payloads: dict[str, bytes], columns: tuple[str, ...] = ALL_COLUMNS
) -> pa.Table:
    """One chunk's self-describing payloads → the original sequence rows.

    Only the payloads the requested `columns` need are decoded (the S3
    column-chunk-read analog applied to decode: at 10^12 rows a tokens-only
    reader must not pay for doc_id/source byte streams). Payloads are fully
    self-describing (dtype + validity in the container header), so extra
    columns decode with no side channel; null token rows are restored from
    the row-validity bitmap the n_tok payload carries."""
    lens = ntok = valid = None
    if "n_tok" in payloads:
        lens, ntok, valid = _ntok_parts(payloads["n_tok"])
    arrays: dict[str, pa.Array] = {}
    for c in columns:
        if c == "doc_id":
            arrays[c] = _narrow(decode_column_arrow(payloads["doc_id"]))
        elif c == "source":
            arrays[c] = _narrow(decode_column_arrow(payloads["source"]))
        elif c == "n_tok":
            arrays[c] = ntok
        elif c == "tokens":
            flat = decode_column(payloads["tokens"])
            offsets64 = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets64[1:], dtype=np.int64)
            if offsets64[-1] > np.iinfo(np.int32).max:
                # reachable only by overriding max_chunk_values far past the
                # default; fail loudly instead of letting an int32 cumsum wrap
                # into corrupt rows
                raise ValueError(
                    f"chunk token count {offsets64[-1]} overflows int32 list offsets"
                )
            offsets = pa.array(offsets64.astype(np.int32), type=pa.int32())
            values = pa.array(flat, type=pa.int32())
            if valid is None:
                arrays[c] = pa.ListArray.from_arrays(offsets, values)
            else:
                arrays[c] = pa.Array.from_buffers(
                    pa.list_(pa.int32()),
                    len(lens),
                    [
                        pa.py_buffer(np.packbits(valid, bitorder="little").tobytes()),
                        offsets.buffers()[1],
                    ],
                    children=[values],
                )
        else:
            arrays[c] = _narrow(decode_column_arrow(payloads[c]))
    return pa.table({c: arrays[c] for c in columns})


def decode_chunk_rows_for_ids(
    payloads: dict[str, bytes], want_ids: set, columns: tuple[str, ...]
) -> tuple[pa.Table, int]:
    """Point-lookup decode of ONE chunk: only the rows whose doc_id is in
    `want_ids` — and for FLAG_BLOCKED extras (the R10 small-pages knob)
    only the payload BLOCKS covering those rows. Returns (rows, payload
    bytes actually decoded) so tests and tooling can assert the random-
    access contract; canonical columns decode whole (tokens' flat stream
    is offset-addressed through n_tok, not blocked) and count fully."""
    from .codecs.container import decode_list_rows

    doc = _narrow(decode_column_arrow(payloads["doc_id"]))
    mask = pa.compute.is_in(doc, value_set=pa.array(sorted(want_ids), doc.type))
    idx = np.nonzero(np.asarray(pa.compute.fill_null(mask, False)))[0]
    canonical = tuple(c for c in columns if c in ALL_COLUMNS)
    extras = [c for c in columns if c not in ALL_COLUMNS]
    touched = len(payloads["doc_id"])
    arrays: dict[str, pa.Array] = {}
    if canonical:
        base = decode_chunk_row(payloads, canonical)
        touched += sum(
            len(payloads[p]) for p in _payloads_for(canonical) if p != "doc_id"
        )
        taken = base.take(idx)
        for c in canonical:
            arrays[c] = taken.column(c).combine_chunks()
    for c in extras:
        vals, t = decode_list_rows(payloads[c], idx)
        arrays[c] = _narrow(vals)
        touched += t
    return pa.table({c: arrays[c] for c in columns}), touched


def _decode_chunks(
    t: pa.RecordBatch | pa.Table,
    need: list[str],
    columns: tuple[str, ...],
    want_ids: set | None = None,
) -> Iterator[pa.Table]:
    """The one per-chunk decode loop: each encoded chunk row of `t` → its
    decoded rows (every row, or with `want_ids` only the rows whose doc_id
    is in it). `need` names the payload columns `columns` need
    (_payloads_for); chunks that yield no rows are skipped."""
    cells = {c: t.column(f"payload_{c}") for c in need}
    for i in range(t.num_rows):
        payloads = {c: col[i].as_py() for c, col in cells.items()}
        if want_ids is None:
            out = decode_chunk_row(payloads, columns)
        else:
            out, _ = decode_chunk_rows_for_ids(payloads, want_ids, columns)
        if out.num_rows:
            yield out


def decode_dataframe(
    encoded: DataFrame,
    columns: tuple[str, ...] | list[str] | None = None,
    extra_types: dict[str, str] | None = None,
) -> DataFrame:
    """Shuffle-free decode: column-pruned scan → mapInArrow.

    `columns` projects the decode: only the payload columns those outputs
    need are scanned (parquet column pruning skips the rest entirely) and
    decoded. Default = all four sequence columns plus any extras named in
    `extra_types` (column → Spark DDL type; `table_meta(...).extras` is
    the metadata-driven source). mapInArrow needs the output
    schema at plan time, which is why extras carry their type here even
    though each payload is self-describing at runtime."""
    return _decode_frame(encoded, columns, extra_types)


def _decode_frame(
    encoded: DataFrame,
    columns: tuple[str, ...] | list[str] | None,
    extra_types: dict[str, str] | None,
    want_ids: set | None = None,
) -> DataFrame:
    """decode_dataframe, optionally restricted to the rows whose doc_id is
    in `want_ids` (lookup's row-targeted decode)."""
    extra_types = dict(extra_types or {})
    payload_cols = {c[len("payload_") :] for c in encoded.columns if c.startswith("payload_")}
    unk = [c for c in extra_types if c not in payload_cols]
    if unk:
        raise ValueError(f"extra_types names columns with no payload: {unk}")
    cols = tuple(columns) if columns is not None else (*ALL_COLUMNS, *extra_types)
    need = _payloads_for(cols, extra_types)
    schema = ", ".join(
        f"{c} {_COLUMN_TYPES.get(c) or extra_types[c]}" for c in cols
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for out in _decode_chunks(batch, need, cols, want_ids):
                yield from out.to_batches()

    return encoded.select(*[f"payload_{p}" for p in need]).mapInArrow(fn, schema)


def read_encoded(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/encoded")


def _attempt_number(name: str) -> int | None:
    """N of an `attempt=N` partition dir name, else None."""
    if name.startswith("attempt="):
        try:
            return int(name.split("=", 1)[1])
        except ValueError:
            pass
    return None


def _encoded_attempts(spark: SparkSession, out_dir: str) -> list[int]:
    """The `attempt=N` partition numbers under `{out_dir}/encoded`, via the
    Hadoop FS API (one driver-side listStatus, no Spark job; file://,
    hdfs://, s3a:// alike). A dir counts even when a crashed job committed
    no data files into it. No table raises FileNotFoundError naming the
    dir, as _list_encoded does; other listing errors propagate, and
    table_meta decides what they mean."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/encoded")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        raise FileNotFoundError(f"no encoded table at {out_dir}/encoded")
    names = (st.getPath().getName() for st in fs.listStatus(p))
    return [n for n in map(_attempt_number, names) if n is not None]


def decode(
    spark: SparkSession,
    out_dir: str,
    columns: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Decode a stored table — extras (and their Spark types) from the one
    metadata scan (table_meta), payloads under the explicit encoded schema.

    Duplicate chunk rows can only exist ACROSS attempts (one applyInArrow
    output row per chunk within an attempt; a crash-resume lands the
    re-encode in a fresh attempt dir). A table of one attempt (the
    overwhelmingly common case) reads every chunk; on any other, the
    metadata read admits every chunk at its earliest attempt, so the
    payload scan keeps each once with no dedup join below the cap."""
    meta = table_meta(spark, out_dir)
    return decode_dataframe(meta.pruned(), columns, extra_types=meta.extras)


# the thin per-chunk metadata every read op plans from (the reference's
# footer: ParquetMetaData, read once per file, lib.rs:32) — never a payload
_THIN_DDL = f"chunk_id string, nbuckets int, bloom binary, columns array<struct<{COLMETA_FIELDS}>>, attempt int"
_COLMETA_NAMES = tuple(f.split(" ", 1)[0] for f in COLMETA_FIELDS.split(", "))

# pruned reads: at most this many admitted chunk ids reach the driver as a
# literal isin; past it the payload scan semi-joins the admitted frame (the
# round-3 finding: an unbounded literal list grows O(#ids × #batches))
LOOKUP_ISIN_CAP = 256
_ADMITTED_DDL = "chunk_id string, attempt int"

# executor choice: a local table whose encoded/ data files total at most
# this many bytes plans on the driver (pyarrow read of the thin columns,
# admit called in-process); any larger or non-local table plans in one Spark
# job. The driver read grows with the table, the job barely: on 4 vCPUs,
# with 80 KB bloom-carrying chunks, 29 MiB read in 0.22 s against a 0.31 s
# job and 116 MiB in 0.81 s against 0.66 s, so at 64 MiB the driver read
# costs about what a plain decode's planning job does, and far less than a
# pruning op's job, which runs admit in Python workers (1.2–3.8 s there).
DRIVER_PLAN_MAX_BYTES = 64 << 20


def _thin_scan(spark: SparkSession, out_dir: str, column: str | None = None) -> DataFrame:
    """The metadata scan: chunk_id, attempt, nbuckets, the stored (column,
    dtype) pairs — plus, with `column`, that column's metrics struct `m`
    (for `tokens` carrying the top-level bloom). Explicit schema, so no
    inference job; column pruning leaves payloads unread."""
    thin = spark.read.schema(_THIN_DDL).parquet(f"{out_dir}/encoded")
    cols = ["chunk_id", "attempt", "nbuckets"]
    cols.append(F.arrays_zip(F.col("columns.column"), F.col("columns.dtype")).alias("types"))
    if column is not None:
        m = F.element_at(F.filter("columns", lambda c: c["column"] == F.lit(column)), 1)
        cols.append((m.withField("bloom", F.col("bloom")) if column == "tokens" else m).alias("m"))
    return thin.select(*cols)


def _admitted_rows(admit, budget: int | None):
    """mapInArrow body over the metadata scan: the (chunk_id, attempt) rows
    `admit(chunk_id, nbuckets, m)` accepts (`m` None when the scan names no
    column) — or, from a partition admitting more than `budget` (None:
    unbounded) rows, one (None, None) row."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids = []
        for b in batches:
            cols = (
                b.column(c).to_pylist() if c in b.schema.names else [None] * b.num_rows
                for c in ("chunk_id", "attempt", "nbuckets", "m")
            )
            ids += [(cid, att) for cid, att, nb, m in zip(*cols) if admit(cid, nb, m)]
        if budget is not None and len(ids) > budget:
            ids = [(None, None)]
        if ids:
            cids, atts = zip(*ids)
            arrays = [pa.array(cids, pa.string()), pa.array(atts, pa.int32())]
            yield pa.record_batch(arrays, names=["chunk_id", "attempt"])

    return fn


def _earliest(rows) -> dict[str, int | None]:
    """(chunk_id, attempt) rows → each chunk's earliest attempt; None for
    files outside `attempt=N` dirs (a hand-built table has no attempts)."""
    admitted: dict[str, int | None] = {}
    for cid, att in rows:
        prev = admitted.get(cid, att)
        admitted[cid] = None if att is None or prev is None else min(att, prev)
    return admitted


def _table_types(type_lists) -> dict[str, str | None]:
    """The distinct per-chunk (column, dtype) lists → {column: dtype}, merged
    longest list first (ties by value), so both executors agree on the
    column order whatever order their chunks arrive in. Two dtypes for one
    column (an append that slipped past run()'s guard, or a hand-mixed
    table) raise: keeping one would declare a mapInArrow schema half the
    payloads violate. So does an extra column with no dtype."""
    distinct = {tuple(tuple(p) for p in t) for t in type_lists}
    types: dict[str, str | None] = {}
    for column, dtype in (p for t in sorted(distinct, key=lambda t: (-len(t), repr(t))) for p in t):
        if types.setdefault(column, dtype) != dtype:
            raise ValueError(
                f"column {column!r} stores conflicting dtypes "
                f"{sorted({types[column], dtype})}; the table mixes incompatible "
                "appends — re-encode it into a fresh out_dir"
            )
    missing = [c for c, t in types.items() if t is None and c not in ALL_COLUMNS]
    if missing:
        raise ValueError(f"no dtype metadata for extra columns {missing}")
    return types


@dataclass(frozen=True)
class TableMeta:
    """What an op knows of a stored table before touching payloads: the
    `attempt=N` dirs (None when a non-local listing failed), every stored
    column's dtype, and the chunks its predicate admits with their earliest
    attempt (None past the cap). Both executors of table_meta return the
    same TableMeta; `spark` is None for the Spark-free reader, which has no
    payload scan to build."""

    out_dir: str
    attempts: list[int] | None
    types: dict[str, str | None]
    admitted: dict[str, int | None] | None
    spark: SparkSession | None = None
    column: str | None = None
    admit: object = None

    @property
    def extras(self) -> dict[str, str]:
        return {c: t for c, t in self.types.items() if c not in ALL_COLUMNS}

    def payload_scan(self) -> DataFrame:
        ddl = encoded_schema_ddl(list(self.extras)) + ", attempt int"
        return self.spark.read.schema(ddl).parquet(f"{self.out_dir}/encoded")

    def pruned(self) -> DataFrame:
        """The payload scan of the admitted chunks, each at its earliest
        attempt — literal filters, so no dedup join; past the cap a
        semi-join with the admitted frame of a fresh metadata scan, which
        never reaches the driver. With no predicate, every chunk."""
        enc = self.payload_scan()
        if self.admit is None:
            return enc
        if self.admitted is None:
            thin = _thin_scan(self.spark, self.out_dir, self.column).drop("types")
            keep = thin.mapInArrow(_admitted_rows(self.admit, None), _ADMITTED_DDL)
            keep = keep.groupBy("chunk_id").agg(F.min("attempt").alias("attempt"))
            on = (enc["chunk_id"] == keep["chunk_id"]) & enc["attempt"].eqNullSafe(keep["attempt"])
            return enc.join(keep, on, "left_semi")
        ids = F.col("chunk_id").isin(sorted(self.admitted))  # row-group pruning
        if None in self.admitted.values():
            # files outside attempt dirs: the scan's attempt is null, and
            # such a table has no attempts to choose between
            return enc.filter(ids)
        return enc.filter(
            ids
            & F.col("attempt").isin(sorted(set(self.admitted.values())))  # partition pruning
            & F.concat_ws("@", "chunk_id", "attempt").isin([f"{c}@{a}" for c, a in self.admitted.items()])
        )


def _driver_fs(spark: SparkSession | None, out_dir: str):
    """(pyarrow filesystem, path of `{out_dir}/encoded`) when the driver can
    read the table itself: a `file:` or scheme-less path (the latter only
    under a local Hadoop default filesystem); None otherwise. Without a
    session (the Spark-free reader) any filesystem pyarrow opens will do."""
    scheme = urlparse(out_dir).scheme
    if scheme == "file" or (not scheme and (
        spark is None
        or spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///").startswith("file:")
    )):
        path = out_dir[len("file:"):] if scheme else out_dir
        return pafs.LocalFileSystem(), os.path.join(os.path.abspath(path), "encoded")
    if spark is None:
        return pafs.FileSystem.from_uri(f"{out_dir}/encoded")
    return None


def _list_encoded(fs: pafs.FileSystem, root: str, out_dir: str):
    """`root` (= `{out_dir}/encoded`) → (its `attempt=N` dir numbers, its
    data files as (path, attempt), their total bytes). Hidden and
    `_`-prefixed entries are skipped, as Spark's scan skips them; an
    attempt dir counts even with no data files, as in _encoded_attempts.
    No table raises, naming the dir."""
    if fs.get_file_info(root).type != pafs.FileType.Directory:
        raise FileNotFoundError(f"no encoded table at {out_dir}/encoded")
    attempts, files, nbytes = [], [], 0
    for info in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        parts = info.path[len(root):].strip("/").split("/")
        if any(p.startswith((".", "_")) for p in parts):
            continue
        if info.type == pafs.FileType.File:
            attempt = next((n for n in map(_attempt_number, parts[:-1]) if n is not None), None)
            files.append((info.path, attempt))
            nbytes += info.size
        elif len(parts) == 1 and (n := _attempt_number(parts[0])) is not None:
            attempts.append(n)
    return sorted(attempts), sorted(files), nbytes


def _thin_read(fs: pafs.FileSystem, path: str, column: str | None) -> pa.Table:
    """One data file's thin columns (the top-level bloom only for `tokens`);
    its payload columns stay unread."""
    with fs.open_input_file(path) as f:
        pf = pq.ParquetFile(f)
        have = set(pf.schema_arrow.names)
        want = ("chunk_id", "nbuckets", "columns", *(("bloom",) if column == "tokens" else ()))
        return pf.read(columns=[c for c in want if c in have])


def _thin_rows(t: pa.Table, column: str | None):
    """One file's thin columns → per chunk (chunk_id, nbuckets, its (column,
    dtype) pairs, m) as the Spark scan yields them: `m` is `column`'s
    metrics with every COLMETA field (None where the file's struct lacks
    it; for `tokens` the top-level bloom), or None."""
    none = [None] * t.num_rows
    cols = {
        c: t.column(c).to_pylist() if c in t.column_names else none
        for c in ("chunk_id", "nbuckets", "bloom", "columns")
    }
    for cid, nb, bloom, metrics in zip(cols["chunk_id"], cols["nbuckets"], cols["bloom"], cols["columns"]):
        metrics = metrics or []
        m = next((c for c in metrics if c.get("column") == column), None)
        if m is not None:
            m = {f: m.get(f) for f in _COLMETA_NAMES}
            if column == "tokens":
                m["bloom"] = bloom
        yield cid, nb, tuple((c.get("column"), c.get("dtype")) for c in metrics), m


def _driver_meta(spark, out_dir, fs, files, attempts, column, admit) -> TableMeta:
    """Driver executor: read each listed file's thin columns with pyarrow
    and call `admit` in-process. Past LOOKUP_ISIN_CAP admitted ids the
    payload scan semi-joins in Spark (admitted None), as on the Spark
    executor; a Spark-free caller keeps every id."""
    type_lists, rows = set(), []
    for path, attempt in files:
        for cid, nb, types, m in _thin_rows(_thin_read(fs, path, column), column):
            type_lists.add(types)
            if admit is not None and admit(cid, nb, m):
                rows.append((cid, attempt))
    admitted = None if admit is None else _earliest(rows)
    if spark is not None and admitted is not None and len(admitted) > LOOKUP_ISIN_CAP:
        admitted = None
    return TableMeta(out_dir, attempts, _table_types(type_lists), admitted, spark, column, admit)


def _spark_meta(spark, out_dir, attempts, column, admit) -> TableMeta:
    """Spark executor: ONE job over the thin columns that observes the
    distinct (column, dtype) lists and runs `admit` in a mapInArrow. The
    driver receives at most LOOKUP_ISIN_CAP admitted ids: each partition
    returns its ids only within its share of the cap."""
    thin = _thin_scan(spark, out_dir, column)
    obs = Observation()
    seen, admitted = thin.observe(obs, F.collect_set("types").alias("t")), None
    if admit is None:
        seen.write.format("noop").mode("overwrite").save()
    else:
        budget = LOOKUP_ISIN_CAP // max(1, thin._jdf.rdd().getNumPartitions())
        rows = seen.drop("types").mapInArrow(_admitted_rows(admit, budget), _ADMITTED_DDL).collect()
        if all(cid is not None for cid, _ in rows):
            admitted = _earliest(rows)
    return TableMeta(out_dir, attempts, _table_types(obs.get["t"]), admitted, spark, column, admit)


def table_meta(
    spark: SparkSession | None, out_dir: str, column: str | None = None, admit=None
) -> TableMeta:
    """The one metadata read of an op: list `encoded/` on the driver,
    then read the thin columns once, which also evaluates the op's pruning
    predicate `admit(chunk_id, nbuckets, m)` (`m`: `column`'s metrics
    struct, None where a chunk has none).

    The listing picks the executor: a local table (`file:` or scheme-less
    path) of at most DRIVER_PLAN_MAX_BYTES data bytes is read on the driver
    (no Spark job); any other table in one Spark job. `spark=None` (the
    Spark-free reader) always reads on the driver and never caps the
    admitted ids. With no predicate, a table of several attempts (or whose
    listing failed) admits every chunk, so `pruned()` keeps each at its
    earliest attempt.
    No `encoded/` dir raises FileNotFoundError naming it. A failed local
    listing raises; a failed non-local one leaves `attempts` None, which
    reads treat as many attempts and run() refuses."""
    where = _driver_fs(spark, out_dir)
    if where is not None:
        fs, root = where
        attempts, files, nbytes = _list_encoded(fs, root, out_dir)
    else:
        try:
            attempts = _encoded_attempts(spark, out_dir)
        except FileNotFoundError:
            raise
        except Exception:
            attempts = None
    if admit is None and (attempts is None or len(attempts) > 1):
        admit = lambda cid, nb, m: True  # noqa: E731
    if where is not None and (spark is None or nbytes <= DRIVER_PLAN_MAX_BYTES):
        return _driver_meta(spark, out_dir, fs, files, attempts, column, admit)
    return _spark_meta(spark, out_dir, attempts, column, admit)


def _probe(convert, test):
    """An admit predicate over a column's metrics `m`: keep the chunk unless
    test(m, convert(m.dtype)) rejects it. Chunks without metrics are kept,
    and so are chunks whose stored dtype the probe value does not convert
    to — the driver repeats that conversion on the table's dtype and raises."""

    def admit(cid, nb, m) -> bool:
        try:
            return m is None or test(m, convert(m["dtype"]))
        except Exception:
            return True

    return admit


def _bloom_admit(value, time_code: int | None = None):
    """Admit chunks whose membership filter might hold `value` (chunks
    without a filter are kept)."""
    return _probe(
        lambda dtype: _carrier(dtype, value, time_code),
        lambda m, c: m["bloom"] is None or might_contain(m["bloom"], c),
    )


def _elem(dtype: str) -> str:
    return dtype[len("array<") : -1] if dtype.startswith("array<") else dtype


def _column_bloom_expr(encoded: DataFrame, column: str):
    """The stored per-column bloom blob for `column`, or a NULL literal on
    tables written before the metrics struct carried one."""
    meta_fields = set(encoded.schema["columns"].dataType.elementType.fieldNames())
    if "bloom" not in meta_fields:
        return F.lit(None).cast("binary")
    return F.element_at(
        F.filter("columns", lambda c: c["column"] == F.lit(column)), 1
    )["bloom"]


def chunks_containing_token(spark: SparkSession, out_dir: str, token: int) -> DataFrame:
    """Chunk ids whose token bloom filter admits `token` (parity with the
    reference's bloom directives, prescription.rs:113-130 / fix.rs:168-182).

    Chunks encoded without a filter can't be pruned and are kept. The probe
    runs inside the metadata scan — payload bytes stay unread."""
    return chunks_containing_value(spark, out_dir, "tokens", token)


def _carrier(dtype: str, value, time_code: int | None = None) -> int:
    """Convert a user-facing probe value into the filter's build domain for
    a column stored as `dtype` — the same carrier _bloom_of hashed at
    encode time: strings → FNV-1a-64, floats → their IEEE bit pattern,
    decimals → the unscaled int (scale read from the stored dtype),
    temporals → their carrier int, ints → themselves. Probing in the wrong
    domain would produce bloom FALSE NEGATIVES (chunks that contain the
    value silently pruned)."""
    if isinstance(value, (str, bytes)):
        return hash_string(value)
    elem = _elem(dtype)
    if elem in ("float", "double"):
        w = np.float32 if elem == "float" else np.float64
        return int(np.array([value], dtype=w).view(np.int32 if elem == "float" else np.int64)[0])
    if elem.startswith("decimal"):
        scale = int(elem.rstrip(")").split(",")[1])
        d = value if isinstance(value, decimal.Decimal) else decimal.Decimal(str(value))
        # prec=60 keeps all 38 digits of a decimal128 exact (the default
        # 28-digit context would silently round the unscaled int)
        u = int(d.scaleb(scale, decimal.Context(prec=60)))
        # the filter's build domain is the signed LO WORD of the 16 B
        # unscaled storage (identity for precision ≤ 18; for decimal128 a
        # lo-word filter is sound — it only ever adds false positives)
        return ((u + (1 << 63)) % (1 << 64)) - (1 << 63)
    if elem in _ZONE_TEMPORAL and isinstance(value, (_dt.date, _dt.datetime, _dt.time)):
        return _temporal_carrier(elem, value, time_code=time_code)
    return int(value)


def chunks_containing_value(
    spark: SparkSession, out_dir: str, column: str, value
) -> DataFrame:
    """Chunk ids whose `column` membership filter admits `value` — the
    per-column generalization (any column given `set column C bloom_filter
    true`; string values probe via the same FNV-1a hash the build used).
    The tokens filter lives in the top-level bloom column, every other
    column's in its metrics row. Chunks without a filter are kept; each
    chunk id is listed once, however many attempts hold it. Decimal columns
    build their filters over the UNSCALED int carrier — probe them with the
    unscaled integer, not the Decimal value."""
    code = _stored_dtype_code(spark, out_dir, column) if isinstance(value, _dt.time) else None
    meta = table_meta(spark, out_dir, column, _bloom_admit(value, code))
    if column not in meta.types:
        # a typo'd column would otherwise silently admit EVERY chunk (no
        # metrics row → no filter → unprunable) — fail loudly instead
        raise ValueError(f"no column {column!r} in the stored table; have {sorted(meta.types)}")
    _carrier(meta.types[column], value, code)  # a value that does not convert raises here
    return meta.pruned().select("chunk_id")


def scan_token(spark: SparkSession, out_dir: str, token: int) -> DataFrame:
    """All rows whose token array contains `token`, decoding only chunks the
    bloom filters admit (probed inside the metadata scan)."""
    meta = table_meta(spark, out_dir, "tokens", _bloom_admit(int(token)))
    return decode_dataframe(meta.pruned(), extra_types=meta.extras).filter(
        F.array_contains("tokens", F.lit(int(token)))
    )


_ZONE_SCALARS = {"int", "bigint", "smallint", "tinyint"}
# temporal carriers: stored min/max are the carrier ints (µs / days / ns)
_ZONE_TEMPORAL = {"timestamp_ntz", "timestamp", "date", "time(6)"}


_TIME_TICKS_PER_SEC = {13: 10**9, 14: 10**6, 15: 10**3, 16: 1}  # DT_TIME_NS/US/MS/S


def _stored_dtype_code(spark: SparkSession, out_dir: str, column: str) -> int | None:
    """Exact container dtype CODE of a stored column, sniffed from the
    12-byte v3 frame header of ONE payload cell. The metrics DDL erases
    information the probes need — all four TIME units store as 'time(6)'
    but their carriers differ by factors of 1000, so a DDL-derived carrier
    silently zone-prunes or bloom-rejects chunks that contain matches.
    Reads one row's payload bytes only (bounded by one chunk)."""
    schema = StructType([StructField(f"payload_{column}", BinaryType())])
    row = (
        spark.read.schema(schema).parquet(f"{out_dir}/encoded")
        .select(F.substring(F.col(f"payload_{column}"), 1, 12).alias("h"))
        .filter(F.col("h").isNotNull())
        .first()
    )
    if row is None:
        return None
    h = bytes(row["h"])
    if len(h) >= 7 and h[:2] == b"TL" and h[2] == 3:
        return h[6]
    return None  # v2 frame: no dtype byte (TIME never ships as v2)


def _temporal_carrier(dtype: str, v, time_code: int | None = None) -> int:
    """A date/datetime/time bound → the column's stored carrier int
    (days / µs / time ticks) for the zone-map overlap predicate.
    `time_code`: the stored DT_TIME_* code for 'time(6)' columns (the DDL
    alone cannot recover the tick unit); defaults to nanoseconds."""
    if dtype == "date" and isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return (v - _dt.date(1970, 1, 1)).days
    if dtype == "timestamp_ntz" and isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            raise ValueError(
                f"bound {v!r} carries a zone but column dtype is "
                "timestamp_ntz (zoneless wall time) — pass a naive datetime"
            )
        # integer arithmetic: total_seconds() is a float and loses the last
        # microsecond for ~1% of values, silently shrinking the zone bound
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if dtype == "timestamp" and isinstance(v, _dt.datetime):
        # zoned column: the stored carrier is the INSTANT (µs since the
        # Unix epoch, UTC). A naive bound is taken as UTC wall time — the
        # storage convention — never the process-local zone.
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return (v - epoch) // _dt.timedelta(microseconds=1)
    if dtype == "time(6)" and isinstance(v, _dt.time):
        if v.tzinfo is not None:
            raise ValueError(
                f"bound {v!r} carries a UTC offset but column dtype is "
                "time(6) (zoneless) — pass a naive time"
            )
        tps = _TIME_TICKS_PER_SEC.get(time_code, 10**9)
        ticks = ((v.hour * 60 + v.minute) * 60 + v.second) * tps
        return ticks + v.microsecond * tps // 10**6
    raise ValueError(f"bound {v!r} does not match the column's {dtype} carrier")


def _zone_bounds(column: str, dtype: str, lo, hi, time_code: int | None) -> tuple[int, int]:
    """[lo, hi] → the carrier ints a `dtype` column's zone map stores."""
    elem = _elem(dtype)
    if elem in _ZONE_TEMPORAL:
        return _temporal_carrier(elem, lo, time_code), _temporal_carrier(elem, hi, time_code)
    if elem in _ZONE_SCALARS:
        return int(lo), int(hi)
    raise ValueError(
        f"zone-map scan needs an int-family or temporal column; "
        f"{column!r} stores {dtype!r}"
    )


def _zone_overlaps(m, bounds: tuple[int, int]) -> bool:
    """Zone-map test of a column's chunk metrics against carrier bounds.
    Blanked stats with values present cannot prune; list columns count
    ELEMENTS in n_values and null ROWS in null_count (mixed units, as in
    lint_encoded), so their data-exists test is n_values > 0."""
    floor = 0 if m["dtype"].startswith("array<") else m["null_count"] or 0
    blanked = m["distinct_est"] == 0 and m["n_values"] > floor
    return blanked or (m["min_val"] <= bounds[1] and m["max_val"] >= bounds[0])


def scan_value_range(spark: SparkSession, out_dir: str, column: str, lo, hi) -> DataFrame:
    """Zone-map scan: rows whose `column` has a value in [lo, hi], decoding
    ONLY chunks whose stored per-column min/max overlap the range — the
    chunk metrics ARE zone maps (the reference reads min/max statistics per
    column chunk for its rules, column_context.rs:402-438; here they prune
    a value scan, the classic row-group-elimination role Parquet gives
    them). The overlap test runs inside the metadata scan.

    Chunks whose stats were blanked (`statistics none`: distinct_est = 0
    with values present — the X1 presence invariant) cannot be pruned and
    are kept. Covers int-family scalars, `tokens`, int-family list extras,
    and temporal columns (date / timestamp_ntz / time — pass
    datetime.date / datetime.datetime / datetime.time bounds);
    float/string carriers store bit-pattern or hashed bounds and are
    rejected (use a full decode + filter for those)."""
    code = _stored_dtype_code(spark, out_dir, column) if isinstance(lo, _dt.time) else None
    bounds = lambda dtype: _zone_bounds(column, dtype, lo, hi, code)  # noqa: E731
    meta = table_meta(spark, out_dir, column, _probe(bounds, _zone_overlaps))
    dtype = meta.types.get(column)
    if dtype is None:
        raise ValueError(f"no column {column!r} in the stored metrics")
    elem = _elem(dtype)
    lo_c, hi_c = bounds(dtype)
    dec = decode_dataframe(meta.pruned(), extra_types=meta.extras)
    if elem == "timestamp":
        # zoned column: compare INSTANTS on both sides. F.lit(datetime) is
        # interpreted in the caller's session zone, so on a non-UTC session
        # the post-decode filter window would diverge from the carrier-int
        # pruning window (silently dropping rows whose chunks were pruned)
        # — unix_micros() is session-zone-independent, matching the pruning
        # arithmetic exactly.
        lo_t, hi_t = F.lit(lo_c), F.lit(hi_c)
        conv = F.unix_micros
    else:
        lo_t, hi_t = (
            (F.lit(lo), F.lit(hi)) if elem in _ZONE_TEMPORAL else (F.lit(lo_c), F.lit(hi_c))
        )
        conv = lambda c: c  # noqa: E731
    if dtype.startswith("array<"):
        pred = F.exists(column, lambda v: (conv(v) >= lo_t) & (conv(v) <= hi_t))
    else:
        pred = conv(F.col(column)).between(lo_t, hi_t)
    return dec.filter(pred)


def lookup(spark: SparkSession, out_dir: str, doc_ids: list[str]) -> DataFrame:
    """Point lookup: decode ONLY the chunks that can contain a requested id.

    Chunk assignment is a pure function of the data (`prefix # xxhash64(doc_id)
    % nbuckets`, chunking.py), and every chunk row carries its group's
    nbuckets — so the metadata scan admits a chunk exactly when its bucket
    is some requested id's bucket (the ids' Spark xxhash64 values come from
    catalyst's hash function over py4j, no query), and, when the chunk carries a
    doc_id membership filter (`set column doc_id bloom_filter true`), that
    filter admits at least one requested id — a candidate bucket holds
    ~n_rows/nbuckets unrelated docs, and without the filter each one pays a
    full decode. At 10^12 rows a lookup touches O(#ids × #prefixes) chunks,
    not the corpus — compaction keeps #prefixes small.
    """
    if not doc_ids:
        return decode(spark, out_dir).limit(0)
    hashes = spark_xxhash64(spark, doc_ids)
    id_hashes = np.array([hash_string(d) for d in doc_ids], dtype=np.int64)
    buckets: dict[int, set[str]] = {}  # nbuckets → the ids' bucket numbers

    def admit(cid, nb, m) -> bool:
        if nb is not None and nb not in buckets:
            buckets[nb] = {str(h % nb) for h in hashes}
        if nb is None or chunk_id_bucket(cid) not in buckets[nb]:
            return False
        return m is None or m["bloom"] is None or might_contain_any(m["bloom"], id_hashes)

    meta = table_meta(spark, out_dir, "doc_id", admit)
    # row-targeted decode: only matched rows materialize, and FLAG_BLOCKED
    # extras (R10 small-pages) decode only the blocks covering them —
    # O(#ids) payload bytes per candidate chunk instead of the whole chunk
    return _decode_frame(meta.pruned(), None, meta.extras, want_ids=set(doc_ids))
