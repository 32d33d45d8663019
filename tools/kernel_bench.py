#!/usr/bin/env python3
"""Single-thread kernel throughput — the apples-to-apples comparison with the
reference's single-threaded decode leaderboard (README.md:94-99: 960 MB of
parquet decoded in 1.59 s ≈ 0.60 GB/s of compressed bytes, best-of-3,
current_thread tokio runtime).

Runs encode_chunk/decode_chunk_row directly (no Spark, one thread) over the
FIXTURES profiles at a given scale, best-of-N, and prints one JSON line with
ms/Mtok and GB/s in both raw-token-bytes and compressed-bytes terms.

Usage: python tools/kernel_bench.py [scale] [iters]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def main() -> None:
    scale = float(sys.argv[1]) if len(sys.argv) > 1 else 0.3
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from tokenlake.decode_job import ALL_COLUMNS, decode_chunk_row
    from tokenlake.encode_job import encode_chunk
    from tokenlake.schema import generate_sequences

    tbl = generate_sequences(scale=scale)
    tbl = tbl.append_column(
        "chunk_id",
        pc.binary_join_element_wise(
            tbl.column("source").cast(pa.string()), pa.array(["0"] * len(tbl)), "#"
        ),
    )
    tbl = tbl.append_column("nbuckets", pa.array(np.ones(len(tbl), np.int32)))

    def conv(t):
        toks = t.column("tokens").combine_chunks().cast(pa.list_(pa.int32()))
        return t.set_column(t.schema.get_field_index("tokens"), "tokens", toks)

    srcs = tbl.column("source").unique().to_pylist()
    chunks = [conv(tbl.filter(pc.equal(tbl.column("source"), s))) for s in srcs]
    n_tok = int(sum(c.column("n_tok").to_numpy().sum() for c in chunks))
    raw_bytes = n_tok * 4

    encode_chunk(chunks[0])  # warm (pandas import inside sorted_factorize)
    enc_times = []
    enc = None
    for _ in range(iters):
        t0 = time.perf_counter()
        enc = [encode_chunk(c) for c in chunks]
        enc_times.append(time.perf_counter() - t0)
    comp_bytes = int(
        sum(
            next(m["encoded_bytes"] for m in t.column("columns")[0].as_py() if m["column"] == "tokens")
            for t in enc
        )
    )

    def decode(e):
        return decode_chunk_row({c: e.column(f"payload_{c}")[0].as_py() for c in ALL_COLUMNS})

    decode(enc[0])
    dec_times = []
    for _ in range(iters):
        t0 = time.perf_counter()
        for e in enc:
            decode(e)
        dec_times.append(time.perf_counter() - t0)

    # single-thread parquet-snappy baseline on the SAME rows (pyarrow,
    # use_threads=False) — the reference leaderboard's comparison target,
    # scored with its cost metric = decode_ms + size_MB (benchmark.rs:40)
    import tempfile

    import pyarrow.parquet as pq

    plain = tbl.drop_columns(["chunk_id", "nbuckets"])
    with tempfile.TemporaryDirectory(prefix="tl_kb_") as td:
        pq_path = os.path.join(td, "base.parquet")
        pq.write_table(plain, pq_path, compression="snappy")
        pq_bytes = os.path.getsize(pq_path)
        pq.read_table(pq_path, use_threads=False)  # warm
        pq_times = []
        for _ in range(iters):
            t0 = time.perf_counter()
            pq.read_table(pq_path, use_threads=False)
            pq_times.append(time.perf_counter() - t0)

    e, d = min(enc_times), min(dec_times)
    p = min(pq_times)
    enc_all_bytes = int(sum(t.column("encoded_bytes")[0].as_py() for t in enc))
    cost_tl = d * 1000 + enc_all_bytes / 1e6
    cost_pq = p * 1000 + pq_bytes / 1e6
    print(
        json.dumps(
            {
                "metric": "single_thread_kernel",
                "scale": scale,
                "iters": iters,
                "tokens": n_tok,
                "raw_token_bytes": raw_bytes,
                "compressed_token_bytes": comp_bytes,
                "encode_s": round(e, 3),
                "decode_s": round(d, 3),
                "encode_ms_per_mtok": round(e / (n_tok / 1e6) * 1000, 1),
                "decode_ms_per_mtok": round(d / (n_tok / 1e6) * 1000, 1),
                "encode_raw_GBps": round(raw_bytes / e / 1e9, 3),
                "decode_raw_GBps": round(raw_bytes / d / 1e9, 3),
                "decode_compressed_GBps": round(comp_bytes / d / 1e9, 3),
                "reference_decode_compressed_GBps": 0.604,
                "parquet_snappy_bytes": pq_bytes,
                "encoded_all_columns_bytes": enc_all_bytes,
                "parquet_decode_s": round(p, 3),
                "cost_tokenlake_ms_plus_MB": round(cost_tl, 1),
                "cost_parquet_ms_plus_MB": round(cost_pq, 1),
                "cost_vs_parquet": round(cost_tl / cost_pq, 4),
                "encode_s_all": [round(t, 3) for t in enc_times],
                "decode_s_all": [round(t, 3) for t in dec_times],
                "parquet_decode_s_all": [round(t, 3) for t in pq_times],
            }
        )
    )


if __name__ == "__main__":
    main()
