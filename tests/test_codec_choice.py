"""Lint and encode decide each codec through one dispatch, and the
prescription folds the lint decisions from one aggregate."""

import os
import sys
import uuid

import numpy as np
import pyarrow as pa
import pytest

from tokenlake import encode_job, lint_job
from tokenlake.plan import Prescription
from tokenlake.schema import SEQUENCES_SPARK_SCHEMA, generate_sequences


sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
try:
    from payload_digest import chunk_table
finally:
    sys.path.pop(0)


_LINTED = {"tokens", "n_tok", "flag", "score", "tag", "big", "fsb", "amount", "emb",
           "words", "triple", "wide_dec"}


_FORCED = ["", "set column flag encoding rle", "set column score encoding plain",
           "set column tag encoding plain", "set column n_tok encoding rle"]
_WIDER = {
    "page_limit": "set column emb data_page_size_limit 2048\n"
                  "set column words data_page_size_limit 512\n"
                  "set column triple data_page_size_limit 256",
    "no_dict": "\n".join(f"set column {c} dictionary false" for c in sorted(_LINTED)),
}


@pytest.mark.parametrize(
    "text,nulls",
    [pytest.param(t, False, id=t) for t in _FORCED]
    + [pytest.param(t, True, id=f"nulls:{t}") for t in _FORCED]
    + [pytest.param(t, n, id=f"{k}{':nulls' if n else ''}")
       for k, t in _WIDER.items() for n in (False, True)],
)
def test_full_depth_lint_picks_the_encoders_codec(text, nulls):
    """On the same rows, lint (unsampled) and encode make the same codec
    choice, with the same rule, for every linted column — forced codecs,
    null rows, list and wide-decimal extras, blocked list layouts and
    disabled dictionaries included."""
    t = chunk_table(3000, 7, nulls=nulls, lists=True)
    cfg = Prescription.parse(text).apply() if text else None
    lint = {
        r["column"]: (r["codec"], r["rule"])
        for r in lint_job.lint_chunk(t, cfg, fraction=1.0, full_stats=True).to_pylist()
    }
    enc = {
        m["column"]: (m["codec"], m["rule"])
        for m in encode_job.encode_chunk(t, cfg).column("columns")[0].as_py()
    }
    assert set(lint) == _LINTED
    assert lint == {c: enc[c] for c in lint}
    if "encoding" in text:
        column, codec = text.split()[2], text.split()[-1]
        assert lint[column][1] == "forced"
        assert lint[column][0] in (codec, f"str_{codec}")
    if "dictionary false" in text:
        assert not any(codec in ("dict", "str_dict") for codec, _ in lint.values())


@pytest.mark.parametrize("nulls", [False, True])
@pytest.mark.parametrize("prop", ["", "encoding rle", "statistics none", "bloom_filter true"])
def test_canonical_columns_take_the_extra_column_path(prop, nulls):
    """n_tok and doc_id encode through the same column path as any extra:
    twins of them carried as extras (`n_tok2`, `doc2`: same values, same
    per-column config) store the same payload bytes, codec, rule, stats
    and bloom filter."""
    t = chunk_table(1500, 7, nulls=nulls, lists=True)
    t = t.append_column("n_tok2", t.column("n_tok")).append_column("doc2", t.column("doc_id"))
    text = "\n".join(
        f"set column {c} {prop.replace('rle', 'str_plain') if c.startswith('doc') else prop}"
        for c in ("n_tok", "n_tok2", "doc_id", "doc2")
    ) if prop else ""
    cfg = Prescription.parse(text).apply() if text else None
    row = encode_job.encode_chunk(t, cfg).to_pylist()[0]
    meta = {m["column"]: m for m in row["columns"]}
    same = ("codec", "outer", "dtype", "n_values", "null_count", "encoded_bytes", "rule",
            "min_val", "max_val", "distinct_est", "block_rows", "bloom")
    for canon, twin in (("n_tok", "n_tok2"), ("doc_id", "doc2")):
        assert row[f"payload_{twin}"] == row[f"payload_{canon}"]
        assert {k: meta[twin][k] for k in same} == {k: meta[canon][k] for k in same}
    if prop == "encoding rle":
        assert (meta["n_tok"]["codec"], meta["doc_id"]["codec"]) == ("rle", "str_plain")
    if prop == "bloom_filter true":
        assert meta["n_tok"]["bloom"] is not None and meta["doc_id"]["bloom"] is not None
    if prop == "statistics none":
        assert meta["n_tok"]["distinct_est"] == 0


def test_plain_fallback_keeps_a_payload_smaller_than_plain():
    """The never-worse-than-plain fallback swaps a payload for plain only
    when plain really is smaller. A forced FOR on a half-null int column
    saves one bit a value, less than the validity bitmap both payloads
    carry, so its payload tops the values-only bound yet stays below
    plain: it is kept."""
    t = chunk_table(4096, 3)
    v = np.random.default_rng(1).integers(0, 1 << 31, 4096)
    t = t.append_column(
        "v", pa.array([None if i % 2 else int(x) for i, x in enumerate(v)], pa.int32())
    )
    cfg = Prescription.parse("set column v encoding for\nset column v compression none").apply()
    row = encode_job.encode_chunk(t, cfg).to_pylist()[0]
    meta = {m["column"]: m for m in row["columns"]}["v"]
    assert (meta["codec"], meta["rule"]) == ("for", "forced")
    assert 2048 * 4 + 64 < len(row["payload_v"])
    plain = encode_job.encode_chunk(t, Prescription.parse(
        "set column v encoding plain\nset column v compression none").apply())
    assert len(row["payload_v"]) < len(plain.column("payload_v")[0].as_py())


def test_prescription_is_one_aggregate(spark):
    """The prescription folds lint's decisions on the driver: lint returns
    a local frame, so it launches no Spark job, and it names a column's
    encoding only where every linted chunk picked the same codec — here
    not `tokens`, whose sources want dict, delta and plain."""
    tbl = generate_sequences(scale=0.02, profiles=["lowcard", "sorted_ts", "random"], skew=False)
    df = spark.createDataFrame(tbl.to_pandas(), schema=SEQUENCES_SPARK_SCHEMA)
    decisions = lint_job.lint(spark, df, fraction=0.3)
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rx = lint_job.prescription_from_decisions(decisions)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    codecs: dict[str, set] = {}
    for r in decisions.collect():
        codecs.setdefault(r["column"], set()).add(r["codec"])
    named = {d.column for d in rx.directives if d.prop == "encoding"}
    assert named == {c for c, s in codecs.items() if len(s) == 1}
    assert len(codecs["tokens"]) == 3 and "tokens" not in named
