"""Spark-free reader for encoded tables (pyarrow + the numpy codec kernels).

The stored format is plain parquet + self-describing containers, so a
consumer that just wants the rows back — a debugging notebook, a small
downstream tool, a format-conformance check from another language runtime —
must not need a JVM. This module is that proof: it replays decode_job's
exact semantics (attempt dedup keeps each chunk's EARLIEST attempt;
projected decode touches only the payload columns the caller asks for;
doc_id-sorted rows within a chunk) with pyarrow.dataset as the scan layer.

Deliberately small-scale: everything streams through one process. The
distributed path (decode_job.decode) is the production reader; this one
exists for the long tail of consumers and as an independent cross-check —
tests assert byte-identity between the two.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.dataset as ds

from .decode_job import _decode_chunks, _payloads_for

ROW_COLUMNS = ("doc_id", "tokens", "n_tok", "source")


def read_encoded_local(
    out_dir: str, columns: tuple[str, ...] | list[str] | None = None
) -> pa.Table:
    """Decode `out_dir` (an encode_job.run output) into one Arrow table.

    `columns`: subset of row columns to materialize (projected decode — the
    other payload byte streams are never read from disk thanks to parquet
    column pruning). Default: every stored column, canonical order.
    """
    dataset = ds.dataset(f"{out_dir}/encoded", format="parquet", partitioning="hive")
    names = dataset.schema.names
    stored = [n[len("payload_") :] for n in names if n.startswith("payload_")]
    if columns is None:
        cols = [*[c for c in ROW_COLUMNS if c in stored],
                *[c for c in stored if c not in ROW_COLUMNS]]
    else:
        missing = [c for c in columns if c not in stored]
        if missing:
            raise ValueError(f"columns not in this table: {missing}; stored: {sorted(stored)}")
        cols = list(columns)
    need = _payloads_for(tuple(cols), dict.fromkeys(stored))

    # attempt dedup, metrics-weight: scan only (chunk_id, attempt) first
    if "attempt" in names:
        keys = dataset.to_table(columns=["chunk_id", "attempt"])
        first = keys.group_by("chunk_id").aggregate([("attempt", "min")])
        keep = {
            (c, a)
            for c, a in zip(
                first.column("chunk_id").to_pylist(),
                first.column("attempt_min").to_pylist(),
            )
        }
    else:
        keep = None

    scan_cols = [f"payload_{c}" for c in need] + (["chunk_id", "attempt"] if keep is not None else [])
    parts: list[pa.Table] = []
    for batch in dataset.to_batches(columns=scan_cols):
        if keep is not None:
            rows = zip(batch.column("chunk_id").to_pylist(), batch.column("attempt").to_pylist())
            batch = batch.filter(pa.array([k in keep for k in rows], pa.bool_()))
        parts.extend(_decode_chunks(batch, need, tuple(cols)))
    if not parts:
        raise ValueError(f"no chunks found under {out_dir}/encoded")
    return pa.concat_tables(parts)
