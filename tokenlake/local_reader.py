"""Spark-free reader for encoded tables (pyarrow + the numpy codec kernels).

The stored format is plain parquet + self-describing containers, so a
consumer that just wants the rows back — a debugging notebook, a small
downstream tool, a format-conformance check from another language runtime —
must not need a JVM. This module is that proof: it replays decode_job's
exact semantics (each chunk at its EARLIEST attempt; projected decode
touches only the payload columns the caller asks for; doc_id-sorted rows
within a chunk) with pyarrow.dataset as the scan layer.

It plans through decode_job.table_meta's driver executor (`spark=None`):
the same pyarrow read of the thin metadata columns the Spark read ops use
on small local tables, which yields the stored columns and every chunk's
earliest attempt — there is no second metadata reader or dedup here.

Deliberately small-scale: everything streams through one process. The
distributed path (decode_job.decode) is the production reader; this one
exists for the long tail of consumers and as an independent cross-check —
tests assert byte-identity between the two.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.dataset as ds

from .decode_job import ALL_COLUMNS, _decode_chunks, _payloads_for, table_meta


def read_encoded_local(
    out_dir: str, columns: tuple[str, ...] | list[str] | None = None
) -> pa.Table:
    """Decode `out_dir` (an encode_job.run output) into one Arrow table.

    `columns`: subset of row columns to materialize (projected decode — the
    other payload byte streams are never read from disk thanks to parquet
    column pruning). Default: every stored column, canonical order.
    """
    meta = table_meta(None, out_dir, admit=lambda cid, nb, m: True)
    if not meta.admitted:
        raise ValueError(f"no chunks found under {out_dir}/encoded")
    if columns is None:
        cols = [*[c for c in ALL_COLUMNS if c in meta.types], *meta.extras]
    else:
        missing = [c for c in columns if c not in meta.types]
        if missing:
            raise ValueError(f"columns not in this table: {missing}; stored: {sorted(meta.types)}")
        cols = list(columns)
    need = _payloads_for(tuple(cols), meta.extras)

    dataset = ds.dataset(f"{out_dir}/encoded", format="parquet", partitioning="hive")
    parts: list[pa.Table] = []
    for batch in dataset.to_batches(columns=[f"payload_{c}" for c in need] + ["chunk_id", "attempt"]):
        rows = zip(batch.column("chunk_id").to_pylist(), batch.column("attempt").to_pylist())
        batch = batch.filter(pa.array([meta.admitted.get(c) == a for c, a in rows], pa.bool_()))
        parts.extend(_decode_chunks(batch, need, tuple(cols)))
    return pa.concat_tables(parts)
