"""Payload-identity digest for encoder refactors.

Runs `encode_chunk` and `lint_chunk` over a fixed matrix of chunks × column
configs and prints one sha256 per case plus an overall digest. A refactor
that must not change the stored format runs this against the parent commit
and against the change; the digests must match:

    python tools/payload_digest.py --root /path/to/parent > parent.json
    python tools/payload_digest.py > change.json
    diff parent.json change.json

Digested per case: every payload column's bytes, every metrics field except
`elapsed_ms` (top-level and per column), and the `lint_chunk` rows at full
depth and at a 0.5 extrapolation fraction. A case that raises digests its
exception type and message, so an error that moves or changes shows too.
Pure Arrow: no Spark session is started.
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def chunk_table(n, seed, *, nulls=False, lists=False, presorted=False, lowcard=False):
    """One chunk as the encoder's UDF receives it (also the fixture of
    tests/test_codec_choice.py), with a bool, double, string, bigint,
    fixed-size-binary, decimal and list<float> extra; `lists` adds a
    list<string>, a fixed_size_list<int32>[3] and a decimal128(38,0) extra.
    `nulls` plants null rows in tokens+n_tok (same rows), doc_id, the
    string, bigint and `lists` extras, and null elements in the
    list<string>."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, 20, n).astype(np.int32)
    if lowcard:
        lens[:] = 8
    toks = [
        (np.full(k, i % 3) if lowcard else rng.integers(0, 300, k)).astype(np.int32)
        for i, k in enumerate(lens)
    ]
    order = np.arange(n) if presorted else rng.permutation(n)
    prefix = "document/shared/prefix/" if lowcard else "d"
    doc = [f"{prefix}{i:06d}" for i in order]
    null_rows = (np.arange(n) % 11 == 3) if nulls else np.zeros(n, bool)
    cols = {
        "chunk_id": pa.array(["s#0"] * n),
        "nbuckets": pa.array([1] * n, pa.int32()),
        "doc_id": pa.array([None if nulls and i % 13 == 5 else d for i, d in enumerate(doc)]),
        "tokens": pa.array(
            [None if z else t for z, t in zip(null_rows, toks)], pa.list_(pa.int32())
        ),
        "n_tok": pa.array(
            [None if z else int(k) for z, k in zip(null_rows, lens)], pa.int32()
        ),
        "source": pa.array(["s"] * n),
        "flag": pa.array(rng.random(n) < 0.2),
        "score": pa.array(rng.normal(size=n)),
        "tag": pa.array(
            [None if nulls and i % 7 == 2 else f"tag{i % (3 if lowcard else 7)}" for i in range(n)]
        ),
        "big": pa.array(
            [None if nulls and i % 5 == 1 else int(v)
             for i, v in enumerate(np.sort(rng.integers(0, 1 << 40, n)) if lowcard
                                   else rng.integers(-(1 << 40), 1 << 40, n))],
            pa.int64(),
        ),
        "fsb": pa.array([bytes([i % 5, 0xFF, 3]) for i in range(n)], pa.binary(3)),
        "amount": pa.array(
            [decimal.Decimal(int(v)) / 100 for v in rng.integers(0, 10**6, n)],
            pa.decimal128(12, 2),
        ),
        "emb": pa.array(
            [rng.random(4).astype(np.float32) for _ in range(n)], pa.list_(pa.float32())
        ),
    }
    if lists:
        cols["words"] = pa.array(
            [None if nulls and i % 9 == 4 else
             [None if nulls and j == 1 else f"w{(i + j) % 17}" for j in range(i % 4)]
             for i in range(n)],
            pa.list_(pa.string()),
        )
        cols["triple"] = pa.array(
            [None if nulls and i % 6 == 0 else [i, i + 1, (i * 7) % 5] for i in range(n)],
            pa.list_(pa.int32(), 3),
        )
        cols["wide_dec"] = pa.array(
            [None if nulls and i % 8 == 3 else decimal.Decimal(int(v) * (10**20 if i % 4 == 0 else 1))
             for i, v in enumerate(rng.integers(-(10**6), 10**6, n))],
            pa.decimal128(38, 0),
        )
    return pa.table(cols)


CHUNKS = {
    "base": lambda: chunk_table(3000, 7),
    "nulls": lambda: chunk_table(2000, 11, nulls=True, lists=True),
    "presorted": lambda: chunk_table(1500, 3, lists=True, presorted=True),
    "lowcard": lambda: chunk_table(2500, 5, lists=True, lowcard=True),
    "tiny": lambda: chunk_table(1, 1, lists=True),
    "sampled_race": lambda: chunk_table(20000, 9),
}

_ALL = ("n_tok", "doc_id", "flag", "score", "tag", "big", "fsb", "amount",
        "emb", "words", "triple", "wide_dec")
CONFIGS = {
    "default": "",
    "forced_ntok_rle": "set column n_tok encoding rle\nset column doc_id encoding str_plain",
    "forced_ntok_dict": "set column n_tok encoding dict\nset column doc_id encoding dict",
    "forced_extras": "set column flag encoding rle\nset column score encoding plain\n"
                     "set column tag encoding plain\nset column big encoding delta\n"
                     "set column emb encoding plain\nset column words encoding str_prefix\n"
                     "set column triple encoding for",
    "stats_none": "\n".join(f"set column {c} statistics none" for c in _ALL),
    "bloom": "\n".join(f"set column {c} bloom_filter true" for c in _ALL),
    "page_limit": "set column emb data_page_size_limit 2048\n"
                  "set column words data_page_size_limit 1024\n"
                  "set column triple data_page_size_limit 512",
    "no_dict": "\n".join(f"set column {c} dictionary false" for c in _ALL),
    "outer_none": "set file compression none",
    "outer_zstd": "set file compression zstd(3)",
    "truncate_stats": "set file statistics_truncate_length 4",
    "dict_page_limit": "\n".join(f"set column {c} dictionary_page_size_limit 64" for c in _ALL),
}


def _encoded_view(tbl: pa.Table) -> list:
    row = tbl.to_pylist()[0]
    row.pop("elapsed_ms")
    for m in row["columns"]:
        m.pop("elapsed_ms")
    return row


def _digest(obj) -> str:
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, (bytes, bytearray, memoryview)):
            h.update(b"b%d:" % len(o))
            h.update(bytes(o))
        elif isinstance(o, dict):
            h.update(b"{")
            for k in sorted(o):
                feed(k)
                feed(o[k])
            h.update(b"}")
        elif isinstance(o, (list, tuple)):
            h.update(b"[")
            for v in o:
                feed(v)
            h.update(b"]")
        else:
            h.update(repr(o).encode() + b";")

    feed(obj)
    return h.hexdigest()


def _attempt(fn):
    try:
        return fn()
    except Exception as e:  # the error itself is part of the output
        return f"{type(e).__name__}: {e}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=ROOT, help="repo root whose tokenlake/ is digested")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.abspath(args.root))
    from tokenlake import encode_job, lint_job
    from tokenlake.plan import Prescription

    out = {}
    for cname, make in CHUNKS.items():
        t = make()
        for kname, text in CONFIGS.items():
            cfg = Prescription.parse(text).apply() if text else None
            out[f"{cname}/{kname}"] = _digest({
                "encode": _attempt(lambda: _encoded_view(encode_job.encode_chunk(t, cfg))),
                "lint_full": _attempt(lambda: lint_job.lint_chunk(
                    t, cfg, fraction=1.0, full_stats=True).to_pylist()),
                "lint_half": _attempt(lambda: lint_job.lint_chunk(
                    t, cfg, fraction=0.5).to_pylist()),
            })
    out["ALL"] = _digest(out)
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
