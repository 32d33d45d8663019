"""The benchmark's workloads and the loop that times them.

Each workload generates its inputs from the seed (tokenlake only ever sees
the generated tables), sets up (session, warm-up, any pre-encoded table),
then repeats its op — checked for correctness after every call — until the
measuring time is spent and every op kind ran, timing a plain-Spark
reference job between ops to gauge the host's speed.

- `ingest`: the write path. One op is the full lint → prescription →
  `encode_job.run(cfg=rx.apply())` → `verify_by_hash` lifecycle over a
  skewed 9-profile corpus.
- `serve`: the read path, one closed-loop client. A balanced corpus with a
  per-row float embedding and a double score is encoded during set-up in
  small chunks with doc_id and tokens bloom filters. Ops alternate between
  a full decode, a Spark-free local read and a single-id `lookup` (about 1
  in 5 ids is absent), and a projected (tokens, n_tok) decode, the same
  local read and a `scan_token` probe.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tracing import PeakRss, Tracer, burn

# corpus sizes at --scale 1, as generate_sequences scale factors (a factor
# of 1.0 is ≈93 M tokens skewed, ≈53 M balanced): ≈0.3 M tokens each.
# On a 4-core host every Spark job costs tenths of a second whatever its
# size, so larger corpora mostly lengthen the run, not the signal
INGEST_SCALE = 0.003
SERVE_SCALE = 0.005
SERVE_EMBED_DIM = 32
# ≈18 chunks of the serve table: lookups and scans have chunks to prune
SERVE_MAX_CHUNK_ROWS = 32
# lookups and scans whose candidate sets a traced run reads back
PRUNING_PROBES = 2
SETUP_REPS = 3
# Python workers the pool holds before timing, per task slot
WORKERS_PER_TASK = 4
# seconds the reference job (Bench.reference_s) takes on the host the
# scaled metrics are quoted for: a 4-vCPU VM at its usual speed
REF_S = 0.5
REF_REPS = 2
TOKEN_CODECS = ("dict", "rle", "delta", "for", "fsst", "plain", "bss")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _dur(spans):
    return [s["end"] - s["start"] for s in spans]


def _ragged_arange(lens: np.ndarray) -> np.ndarray:
    starts = np.zeros(len(lens), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return np.arange(int(lens.sum()), dtype=np.int64) - np.repeat(starts, lens)


def row_digests(col) -> np.ndarray:
    """Sorted per-row 64-bit digests of a list<int32> column: equal arrays
    ⇔ (up to hash collisions) the same multiset of token rows, order-free,
    so a reader that returns rows in chunk order can be checked against the
    generated input."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    lens = np.asarray(pc.list_value_length(arr).fill_null(0), dtype=np.int64)
    flat = np.asarray(pc.list_flatten(arr), dtype=np.int64).view(np.uint64)
    pos = _ragged_arange(lens).view(np.uint64)
    with np.errstate(over="ignore"):
        mix = flat * np.uint64(0x9E3779B97F4A7C15) ^ (pos + np.uint64(1)) * np.uint64(0xC2B2AE3D27D4EB4F)
        mix ^= mix >> np.uint64(29)
        mix *= np.uint64(0xBF58476D1CE4E5B9)
        cs = np.zeros(len(mix) + 1, np.uint64)
        np.cumsum(mix, out=cs[1:])
        ends = np.cumsum(lens)
        rows = cs[ends] - cs[ends - lens] + lens.view(np.uint64) * np.uint64(0x94D049BB133111EB)
    return np.sort(rows)


def raw_value_bytes(df) -> tuple[int, int]:
    """Arrow value bytes of an input frame (string bytes + fixed-width
    values; no offsets or validity), the denominator of bytes_per_raw_byte,
    and the frame's token count, in one pass."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType

    width = {IntegerType: 4, FloatType: 4, LongType: 8, DoubleType: 8}
    terms = []
    for f in df.schema.fields:
        t = f.dataType
        if isinstance(t, StringType):
            terms.append(F.sum(F.octet_length(f.name)))
        elif isinstance(t, ArrayType):
            terms.append(F.sum(F.size(f.name)) * width[type(t.elementType)])
        else:
            terms.append(F.count(f.name) * width[type(t)])
    row = df.agg(F.sum(F.size("tokens")), *terms).first()
    return int(sum(row[1:])), int(row[0])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def digest(df, cols, by_source: bool = True) -> dict:
    """(rows, Σ xxhash64(cols)) per source, or overall: the digest
    verify_by_hash compares, computed by the benchmark for its own checks."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols).cast("decimal(38,0)")
    aggs = (F.count("*").alias("rows"), F.sum(h).alias("h"))
    if by_source:
        return {r["source"]: (r["rows"], r["h"]) for r in df.groupBy("source").agg(*aggs).collect()}
    r = df.agg(*aggs).first()
    return {"*": (r["rows"], r["h"])}


class Workload:
    """One generated input and the op run on it. Subclasses fill in
    generate / prepare / expectations / op / check."""

    name = ""
    kinds = 1  # op kinds, run in turn: op i is of kind i mod kinds

    def __init__(self, bench: "Bench") -> None:
        self.b = bench
        self.cfg = None
        self.df = None
        self.tbl: pa.Table | None = None
        self.out_dir = ""  # the encoded table the counts are read from
        self.summary: dict = {}
        self.raw_bytes = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.b.work, self.name, *parts)

    def generate(self) -> None:
        """Write the seeded inputs (untimed; not part of set-up)."""

    def prepare(self) -> None:
        """Set-up after the session starts: open the inputs, warm the Python
        workers, build any pre-encoded table (timed as part of setup_s)."""

    def expectations(self) -> None:
        """Reference values for the checks (untimed; not part of set-up)."""
        self.raw_bytes, self.tokens = raw_value_bytes(self.df)

    def op(self, i: int):
        """One timed operation → (seconds per part, result to check)."""
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def encode(self, df, out_dir: str, cfg=None, **caps) -> dict:
        from tokenlake import encode_job

        with self.b.tr.span("encode_job.run"):
            summary = encode_job.run(self.b.spark, df, out_dir, cfg=cfg, **caps)
        self.out_dir, self.summary = out_dir, summary
        return summary

    def named(self, ops: list[dict]) -> dict:
        """The workload's own end-to-end metrics: name → (value, unit)."""
        return {}

    def layer_extra(self) -> dict:
        """Per-layer metrics only this workload exercises (traced run)."""
        return {}


class Ingest(Workload):
    name = "ingest"

    def generate(self) -> None:
        from tokenlake.chunking import MAX_CHUNK_ROWS, MAX_CHUNK_VALUES
        from tokenlake.schema import generate_sequences

        os.makedirs(self.path("seq"), exist_ok=True)
        scale = INGEST_SCALE * self.b.scale
        self.tbl = generate_sequences(scale=scale, seed=self.b.seed)
        pq.write_table(self.tbl, self.path("seq", "part.parquet"), row_group_size=2048)
        # chunk caps shrink with the corpus, so each source splits into as
        # many chunks as it would at full size: the lint's per-chunk majority
        # vote then picks the same codec on every seed instead of flipping
        # between near-tied single-chunk sources
        self.caps = {
            "max_rows": max(64, int(MAX_CHUNK_ROWS * scale)),
            "max_values": max(4096, int(MAX_CHUNK_VALUES * scale)),
        }

    def prepare(self) -> None:
        # nothing here runs a Python UDF: warm the workers so the first op
        # does not pay their start-up
        self.b.warm_up()
        self.df = self.b.spark.read.parquet(self.path("seq"))

    def op(self, i: int):
        from tokenlake import decode_job, lint_job, verify
        from tokenlake.plan import Prescription

        spark, tr = self.b.spark, self.b.tr
        out, prev = self.path(f"out{i}"), self.out_dir
        t0 = time.perf_counter()
        with tr.span("lint_job.lint"):
            decisions = lint_job.lint(spark, self.df, seed=self.b.seed, **self.caps)
        with tr.span("lint_job.prescription_from_decisions"):
            text = lint_job.prescription_from_decisions(decisions).format()
        t1 = time.perf_counter()
        with tr.span("plan.Prescription.apply"):
            cfg = Prescription.parse(text).apply()
        summary = self.encode(self.df, out, cfg=cfg, **self.caps)
        t2 = time.perf_counter()
        with tr.span("verify.verify_by_hash"):
            with tr.span("decode_job.decode"):
                decoded = decode_job.decode(spark, out)
            res = verify.verify_by_hash(self.df, decoded)
        t3 = time.perf_counter()
        parts = {"lint_s": t1 - t0, "encode_s": t2 - t1, "verify_s": t3 - t2}
        return parts, (res, summary, prev)

    def check(self, result) -> bool:
        res, summary, prev = result
        # keep the newest table for the byte and codec counts, drop the rest
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        return bool(res["pass"]) and res["rows"] > 0 and summary["chunks"] > 0

    def named(self, ops):
        p = [o["parts"] for o in ops]
        return {
            "encode_mtok_per_s": (_median([self.tokens / 1e6 / x["encode_s"] for x in p]), "Mtok/s"),
            "lint_s": (_median([x["lint_s"] for x in p]), "s"),
            "verify_s": (_median([x["verify_s"] for x in p]), "s"),
        }

    def layer_extra(self) -> dict:
        tr = self.b.tr
        lint = tr.by_name("lint_job.lint")
        rx = tr.by_name("lint_job.prescription_from_decisions")
        ver = tr.by_name("verify.verify_by_hash")
        return {
            "lint_job.lint_s": (_median(_dur(lint)), "s"),
            "lint_job.prescription_s": (_median(_dur(rx)), "s"),
            "lint_job.spark_jobs": (
                _median([a["counters"]["jobs"] + b["counters"]["jobs"] for a, b in zip(lint, rx)]),
                "count"),
            "verify.verify_s": (_median(_dur(ver)), "s"),
            "verify.spark_jobs": (_median([s["counters"]["jobs"] for s in ver]), "count"),
        }


class Serve(Workload):
    name = "serve"
    kinds = 2
    PROJECTED = ("tokens", "n_tok")
    DSL = (
        "set file max_chunk_rows {rows}\n"
        "set column doc_id bloom_filter true\n"
        "set column tokens bloom_filter true\n"
    )

    def generate(self) -> None:
        from tokenlake.plan import Prescription
        from tokenlake.schema import generate_sequences

        os.makedirs(self.path("seq"), exist_ok=True)
        tbl = generate_sequences(scale=SERVE_SCALE * self.b.scale, seed=self.b.seed, skew=False)
        rng = np.random.default_rng([self.b.seed, 11])
        n = tbl.num_rows
        emb = rng.standard_normal(n * SERVE_EMBED_DIM, dtype=np.float32)
        offsets = pa.array(np.arange(0, (n + 1) * SERVE_EMBED_DIM, SERVE_EMBED_DIM, dtype=np.int32))
        tbl = tbl.append_column("embedding", pa.ListArray.from_arrays(offsets, pa.array(emb)))
        tbl = tbl.append_column("score", pa.array(rng.random(n) * 100.0))
        self.tbl = tbl
        self.tokens = int(pc.sum(tbl.column("n_tok")).as_py())
        pq.write_table(tbl, self.path("seq", "part.parquet"), row_group_size=2048)
        self.cfg = Prescription.parse(self.DSL.format(rows=SERVE_MAX_CHUNK_ROWS)).apply()
        ids = tbl.column("doc_id").to_pylist()
        self.row_of = {d: i for i, d in enumerate(ids)}
        toks = tbl.column("tokens").combine_chunks()
        self.flat = np.asarray(pc.list_flatten(toks), dtype=np.int32)
        lens = np.asarray(pc.list_value_length(toks), dtype=np.int64)
        self.row_of_flat = np.repeat(np.arange(len(lens)), lens)
        # one lookup id and one scan token per op. Op i looks up an id of
        # source i mod 9 — absent (an id no row has) when i mod 5 is 0 — and
        # scans a token from a row of source (i + 4) mod 9: every seed gets
        # the same mix of cheap and costly probes. Scan tokens are always
        # present: on a table with extra columns, scan_token raises when the
        # bloom filters reject every chunk (extra_types_of finds no metrics
        # rows to read the extras' types from).
        src_col = np.asarray(tbl.column("source").to_pylist(), dtype=object)
        sources = sorted(set(src_col))
        rows_of = {src: np.flatnonzero(src_col == src) for src in sources}
        nonempty = {src: r[lens[r] > 0] for src, r in rows_of.items()}
        starts = np.r_[0, np.cumsum(lens)[:-1]]
        self.plan = []
        for i in range(512):
            src = sources[i % len(sources)]
            if i % 5 == 0:
                look = ("lookup_absent", f"{src}-{900_000_000_000 + i:012d}")
            else:
                look = ("lookup", ids[int(rng.choice(rows_of[src]))])
            r = int(rng.choice(nonempty[sources[(i + 4) % len(sources)]]))
            token = int(self.flat[starts[r] + rng.integers(lens[r])])
            self.plan.append((look, token))

    def prepare(self) -> None:
        self.df = self.b.spark.read.parquet(self.path("seq"))
        out = self.path("encoded")
        shutil.rmtree(out, ignore_errors=True)
        self.encode(self.df, out, cfg=self.cfg)

    def expectations(self) -> None:
        super().expectations()
        self.cols = sorted(self.df.columns)
        self.want_full = digest(self.df, self.cols)
        self.want_proj = digest(self.df, sorted(self.PROJECTED), by_source=False)
        self.want_rows = row_digests(self.tbl.column("tokens"))

    def op(self, i: int):
        """Even ops: full decode, local read, lookup. Odd ops: projected
        decode, local read, scan. Both kinds cost about the same, and one
        of each fits the measuring time on a small host."""
        from tokenlake import decode_job, local_reader

        spark, tr, out = self.b.spark, self.b.tr, self.out_dir
        (look_kind, doc_id), token = self.plan[(i // 2) % len(self.plan)]
        full = i % 2 == 0
        got, parts = {}, {}
        t0 = time.perf_counter()
        with tr.span("decode_job.decode"):
            dec = decode_job.decode(spark, out, columns=None if full else list(self.PROJECTED))
        with tr.span("decode_job.decode.exec"):
            if full:
                got["full"] = digest(dec, self.cols)
            else:
                got["proj"] = digest(dec, sorted(self.PROJECTED), by_source=False)
        t1 = time.perf_counter()
        parts["decode_s" if full else "decode_proj_s"] = t1 - t0
        with tr.span("local_reader.read_encoded_local"):
            got["local"] = local_reader.read_encoded_local(out, columns=["tokens"])
        t2 = time.perf_counter()
        parts["local_read_s"] = t2 - t1
        if full:
            with tr.span("decode_job.lookup"):
                df = decode_job.lookup(spark, out, [doc_id])
            with tr.span("decode_job.lookup.exec"):
                got["lookup"] = (look_kind, doc_id, df.toArrow())
            parts["lookup_s"] = time.perf_counter() - t2
        else:
            with tr.span("decode_job.scan_token"):
                df = decode_job.scan_token(spark, out, token)
            with tr.span("decode_job.scan_token.exec"):
                got["scan"] = (token, df.count())
            parts["scan_s"] = time.perf_counter() - t2
        return parts, got

    def check(self, got) -> bool:
        ok = np.array_equal(row_digests(got["local"].column("tokens")), self.want_rows)
        if "full" in got:
            ok &= got["full"] == self.want_full
        if "proj" in got:
            ok &= got["proj"] == self.want_proj
        if "lookup" in got:
            look_kind, doc_id, found = got["lookup"]
            if look_kind == "lookup":
                ok &= found.to_pylist() == self.tbl.slice(self.row_of[doc_id], 1).to_pylist()
            else:
                ok &= found.num_rows == 0
        if "scan" in got:
            token, n_scan = got["scan"]
            ok &= n_scan == np.unique(self.row_of_flat[self.flat == token]).size
        return bool(ok)

    def named(self, ops):
        m = self.tokens / 1e6

        def part(key, scale=1.0):
            return [o["parts"][key] * scale for o in ops if key in o["parts"]]

        lk = part("lookup_s", 1000)
        # a percentile is reported only with ≥10 samples beyond it
        p75 = float(np.percentile(lk, 75)) if len(lk) - int(np.ceil(0.75 * len(lk))) >= 10 else None
        return {
            "decode_mtok_per_s": (_median([m / x for x in part("decode_s")]), "Mtok/s"),
            "decode_proj_mtok_per_s": (_median([m / x for x in part("decode_proj_s")]), "Mtok/s"),
            "local_read_mtok_per_s": (_median([m / x for x in part("local_read_s")]), "Mtok/s"),
            "lookup_p50_ms": (_median(lk), "ms"),
            "lookup_p75_ms": (p75, "ms"),
            "lookup_samples": (len(lk), "count"),
            "scan_token_p50_ms": (_median(part("scan_s", 1000)), "ms"),
        }

    def layer_extra(self) -> dict:
        """Decode, lookup and scan layer metrics of the traced ops, and
        pruning ratios of the first plan probes, read back through
        decode_job's public candidate functions (bloom admission) and
        chunking (which chunks truly hold a token)."""
        from pyspark.sql import functions as F

        from tokenlake import decode_job
        from tokenlake.chunking import assign_chunks, chunk_id_prefix

        spark, tr = self.b.spark, self.b.tr

        def jobs(name):
            calls, execs = tr.by_name(name), tr.by_name(name + ".exec")
            return _median([a["counters"]["jobs"] + b["counters"]["jobs"] for a, b in zip(calls, execs)])

        execs = tr.by_name("decode_job.decode.exec")
        out = {
            "decode_job.exec_s": (_median(_dur(execs)), "s"),
            "decode_job.scan_tasks": (_median([s["counters"]["tasks"] for s in execs]), "count"),
            "local_reader.read_s": (_median(_dur(tr.by_name("local_reader.read_encoded_local"))), "s"),
            "decode_job.lookup_spark_jobs": (jobs("decode_job.lookup"), "count"),
            "decode_job.scan_spark_jobs": (jobs("decode_job.scan_token"), "count"),
        }
        enc = decode_job.read_encoded(spark, self.out_dir)
        total = enc.select("chunk_id").distinct().count()
        buckets = enc.select(chunk_id_prefix().alias("source"), "nbuckets").distinct()
        admitted, rows, scan_admitted, scan_holding = [], 0, 0, 0
        probes = self.plan[:PRUNING_PROBES]
        tr.op = "probe-pruning"
        for (look_kind, doc_id), token in probes:
            with tr.span("decode_job.chunks_containing_value"):
                admitted.append(
                    decode_job.chunks_containing_value(spark, self.out_dir, "doc_id", doc_id).count())
            rows += look_kind == "lookup"
            with tr.span("decode_job.chunks_containing_token"):
                got = {r["chunk_id"] for r in
                       decode_job.chunks_containing_token(spark, self.out_dir, token).collect()}
            holding = assign_chunks(
                self.df.filter(F.array_contains("tokens", token)), buckets
            ).select("chunk_id").distinct()
            scan_admitted += len(got)
            scan_holding += len(got & {r["chunk_id"] for r in holding.collect()})
        out.update({
            "decode_job.lookup_chunks_admitted": (_median(admitted), "count"),
            "decode_job.lookup_useful_frac": (rows / max(sum(admitted), 1), "ratio"),
            "decode_job.scan_admit_frac": (scan_admitted / (total * len(probes)), "ratio"),
            "decode_job.scan_useful_frac": (scan_holding / max(scan_admitted, 1), "ratio"),
        })
        return out


WORKLOADS = {w.name: w for w in (Ingest, Serve)}


def trace_overhead_ms(ops: list[dict]) -> float:
    """Traced minus untraced median op time. Warm ops are left out."""
    t = [o["s"] * 1000 for o in ops if o["ok"] and o["traced"] and not o["warm"]]
    u = [o["s"] * 1000 for o in ops if o["ok"] and not o["traced"] and not o["warm"]]
    return _median(t) - _median(u)


class Bench:
    """Runs one workload: set-up (repeated), timed loop with reference
    jobs, checks, counts, and in a traced run the per-layer metrics."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, scale: float,
                 rss: PeakRss, tracer: Tracer) -> None:
        self.work, self.seed, self.seconds = work, seed, seconds
        self.trace, self.scale, self.rss, self.tr = trace, scale, rss, tracer
        self.spark = None
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])

    # -- set-up ---------------------------------------------------------
    def start_session(self) -> None:
        from tokenlake.session import get_spark

        with self.tr.span("session.get_spark"):
            self.spark = get_spark(app_name="tokenlake-perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.bind(self.spark.sparkContext)

    def warm_up(self) -> None:
        """One tiny encode so every Python worker has imported the codecs
        (serve's set-up encode does this for it)."""
        from tokenlake import encode_job

        src = os.path.join(self.work, "warm")
        if not os.path.isdir(src):
            from tokenlake.schema import generate_sequences

            os.makedirs(src)
            pq.write_table(generate_sequences(scale=0.001, seed=0), os.path.join(src, "p.parquet"))
        df = self.spark.read.parquet(src)
        encode_job.encode_dataframe(df).write.format("noop").mode("overwrite").save()

    def setup(self, wl: Workload) -> list[float]:
        """SETUP_REPS set-ups on one session; the first also launches the
        JVM and starts the session. Restarting the SparkContext for every
        set-up would respawn the Python workers each time, which on a
        4-core host costs more than the set-up work it wraps."""
        times = []
        for k in range(SETUP_REPS):
            self.tr.enabled, self.tr.op = self.trace, f"setup-{k}"
            t0 = time.perf_counter()
            if self.spark is None:
                self.start_session()
            wl.prepare()
            times.append(time.perf_counter() - t0)
        self.tr.enabled = False
        return times

    # -- timed loop -----------------------------------------------------
    def one_op(self, wl: Workload, i: int, traced: bool, warm: bool) -> dict:
        self.tr.enabled, self.tr.op = traced, f"op-{i}"
        rec = {"i": i, "traced": traced, "warm": warm, "ok": False, "s": float("nan")}
        try:
            self.rss.reset()
            t0 = time.perf_counter()
            with self.tr.span("perfbench.op"):
                parts, result = wl.op(i)
            rec["s"] = time.perf_counter() - t0
            rec["rss_mb"] = self.rss.peak_mb
            rec["parts"] = parts
            self.tr.enabled = False
            rec["ok"] = bool(wl.check(result))
        except Exception as e:  # a failed op is counted, and the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        self.tr.enabled = False
        return rec

    def reference_s(self, wl: Workload) -> float:
        """Seconds of the reference job: a plain Spark job that calls no
        tokenlake code. It scans the workload's generated input, passes
        three columns through a Python Arrow UDF and discards them, so it
        pays what every op pays (planning, a job launch, a scan, the trip
        through the Python workers) and nothing that tokenlake does."""
        t0 = time.perf_counter()
        df = self.spark.read.parquet(wl.path("seq")).select("doc_id", "n_tok", "source")
        df.mapInArrow(lambda batches: batches, df.schema).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def spawn_workers(self, wl: Workload) -> None:
        """Fill the Python worker pool before timing: WORKERS_PER_TASK
        chained Arrow UDFs over `cores` tasks hold that many workers at
        once. Spark
        otherwise grows the pool whenever an op happens to need one more
        worker than are idle, and the resident memory of the run jumps by
        a worker set at a random op."""
        df = self.spark.read.parquet(wl.path("seq")).select("doc_id", "n_tok", "source")
        df = df.repartition(self.cores)
        for _ in range(WORKERS_PER_TASK):
            df = df.mapInArrow(lambda batches: batches, df.schema)
        df.write.format("noop").mode("overwrite").save()

    def loop(self, wl: Workload) -> tuple[list[dict], list[float]]:
        """Ops until the measuring time is spent and every kind ran equally
        often, at least once. No op is run untimed first: the first
        `ingest` lifecycle of a session is what a one-shot batch job pays,
        and `serve`'s set-up encodes already warm its read paths (a warm
        op there measured no faster than the first timed one). The
        reference job runs REF_REPS times before the ops, between each two
        of them, and REF_REPS times after the last.
        A traced run warms one op per kind, then alternates untraced and
        traced rounds of one op per kind; the difference of their medians
        is the tracing overhead."""
        k = wl.kinds
        w = k if self.trace else 0
        ops = [self.one_op(wl, i, False, True) for i in range(w)]
        self.spawn_workers(wl)  # also warms the reference job's path
        refs = [self.reference_s(wl) for _ in range(REF_REPS)]
        end = time.perf_counter() + self.seconds
        min_ops = 2 * k if self.trace else k
        n = 0
        while n < min_ops or time.perf_counter() < end or n % k:
            if n:
                refs.append(self.reference_s(wl))
            ops.append(self.one_op(wl, w + n, self.trace and (n // k) % 2 == 1, False))
            n += 1
        refs += [self.reference_s(wl) for _ in range(REF_REPS)]
        return ops, refs

    # -- counts read from the encoded table -----------------------------
    def counts(self, wl: Workload) -> dict:
        from pyspark.sql import functions as F

        from tokenlake import decode_job, encode_job

        m = encode_job.column_metrics(decode_job.read_encoded(self.spark, wl.out_dir))
        tok = m.filter(F.col("column") == "tokens")
        by_codec = {r["codec"]: r["n"] for r in tok.groupBy("codec").agg(F.count("*").alias("n")).collect()}
        tok_bytes, tok_values = tok.agg(F.sum("encoded_bytes"), F.sum("n_values")).first()
        return {
            "chunking.chunks": int(wl.summary["chunks"]),
            **{f"codecs.chunks.{c}": int(by_codec.get(c, 0)) for c in TOKEN_CODECS},
            "codecs.token_bytes_per_token": tok_bytes / max(tok_values, 1),
            "bytes_per_raw_byte": dir_bytes(os.path.join(wl.out_dir, "encoded")) / wl.raw_bytes,
        }

    # -- traced-only probes ---------------------------------------------
    def kernel_probes(self, wl: Workload, reps: int = 3) -> dict:
        """Single-thread calls into the kernels on chunk-shaped Arrow tables
        cut from the workload's own input (one per source, ≤256 Ki tokens),
        in ms per million tokens."""
        from tokenlake import encode_job, select, stats
        from tokenlake.codecs import decode_column, encode_int_column
        from tokenlake.plan import EncodeConfig

        tbl, cfg = wl.tbl, wl.cfg or EncodeConfig()
        chunks = []
        for src in tbl.column("source").unique().to_pylist():
            t = tbl.filter(pc.equal(tbl.column("source"), src))
            n_tok = np.asarray(t.column("n_tok"), dtype=np.int64)
            rows = max(1, int(np.searchsorted(np.cumsum(n_tok), 256 * 1024)))
            if cfg.max_chunk_rows:
                rows = min(rows, cfg.max_chunk_rows)
            # Spark hands the encoder list<int32> columns at offset 0
            t = t.take(pa.array(np.arange(rows)))
            t = t.set_column(
                t.schema.get_field_index("tokens"), "tokens",
                t.column("tokens").cast(pa.list_(pa.int32())),
            )
            t = t.append_column("chunk_id", pa.array([f"{src}#0"] * t.num_rows))
            t = t.append_column("nbuckets", pa.array([1] * t.num_rows, pa.int32()))
            flat = np.asarray(pc.list_flatten(t.column("tokens").combine_chunks()), dtype=np.int32)
            chunks.append((t, flat))
        mtok = sum(len(f) for _, f in chunks) / 1e6
        keys = ("encode_job.encode_chunk", "stats.compute_chunk_stats", "select.select_codec",
                "codecs.encode", "codecs.decode")
        timing: dict[str, list[float]] = {k: [] for k in keys}
        for rep in range(reps + 1):  # pass 0 warms imports and caches
            acc = dict.fromkeys(keys, 0.0)
            for t, flat in chunks:
                t0 = time.perf_counter()
                encode_job.encode_chunk(t, cfg)
                t1 = time.perf_counter()
                st = stats.compute_chunk_stats(flat, t.num_rows)
                t2 = time.perf_counter()
                dec = select.select_codec(flat, st)
                t3 = time.perf_counter()
                buf = encode_int_column(flat, dec.codec, outer="auto")
                t4 = time.perf_counter()
                back = decode_column(buf)
                t5 = time.perf_counter()
                if not np.array_equal(back, flat):
                    raise AssertionError(f"codec {dec.codec} round trip differs")
                for k, v in zip(keys, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
                    acc[k] += v
            if rep:
                for k in keys:
                    timing[k].append(acc[k] * 1000 / mtok)
        return {f"{k}_ms_per_mtok": _median(v) for k, v in timing.items()}

    def layers(self, wl: Workload, ops: list[dict]) -> dict:
        """Per-layer metrics every workload reports (traced run)."""
        from pyspark.sql import functions as F

        from tokenlake import chunking
        from tokenlake.chunking import MAX_CHUNK_ROWS, MAX_CHUNK_VALUES

        tr = self.tr
        traced_ops = {f"op-{o['i']}" for o in ops if o["traced"]}
        setup_ops = {f"setup-{k}" for k in range(SETUP_REPS)}
        # timed ops encode in ingest, set-up does in serve
        enc = tr.by_name("encode_job.run", traced_ops) or tr.by_name("encode_job.run", setup_ops)
        run_s = _median(_dur(enc))
        tr.enabled, tr.op = True, "probe-chunking"
        rows = getattr(wl, "caps", {}).get("max_rows", MAX_CHUNK_ROWS)
        values = getattr(wl, "caps", {}).get("max_values", MAX_CHUNK_VALUES)
        if wl.cfg is not None:
            rows, values = wl.cfg.max_chunk_rows or rows, wl.cfg.effective_max_values(values)
        with tr.span("chunking.plan_buckets"):
            chunking.plan_buckets(wl.df, rows, values).collect()
        udf_ms = (
            self.spark.read.parquet(os.path.join(wl.out_dir, "encoded"))
            .agg(F.sum("elapsed_ms")).first()[0] or 0.0
        )
        dec_calls = [
            s for s in tr.spans if s["op"] in traced_ops
            and s["name"] in ("decode_job.decode", "decode_job.lookup", "decode_job.scan_token")
        ]
        dec_jobs: dict[str, int] = {}
        for s in tr.spans:
            if s["op"] in traced_ops and s["name"].startswith("decode_job."):
                dec_jobs[s["op"]] = dec_jobs.get(s["op"], 0) + s["counters"]["jobs"]
        udf_s = udf_ms / 1000.0
        out = {
            "session.start_s": _median(_dur(tr.by_name("session.get_spark"))),
            "chunking.plan_buckets_s": _median(_dur(tr.by_name("chunking.plan_buckets"))),
            "encode_job.run_s": run_s,
            **{f"encode_job.{k}": _median([s["counters"][c] for s in enc]) for k, c in (
                ("spark_jobs", "jobs"), ("tasks", "tasks"), ("shuffle_write_bytes", "shuffle_write_bytes"))},
            "encode_job.udf_busy_s": udf_s,
            "encode_job.utilization": udf_s / (self.cores * run_s),
            "decode_job.plan_s": _median(_dur(dec_calls)),
            "decode_job.spark_jobs": _median(list(dec_jobs.values())),
            "spark.failed_tasks": sum(s["counters"]["failed_tasks"] for s in tr.spans if "counters" in s),
        }
        out.update(self.kernel_probes(wl))
        tr.enabled = False
        return out

    # -- whole workload -------------------------------------------------
    def run(self, name: str) -> dict:
        wl = WORKLOADS[name](self)
        phases = [("start", time.perf_counter())]
        wl.generate()
        phases.append(("generate", time.perf_counter()))
        burn_before = burn()
        setup_times = self.setup(wl)
        phases.append(("setup", time.perf_counter()))
        wl.expectations()
        phases.append(("expectations", time.perf_counter()))
        ops, refs = self.loop(wl)
        phases.append(("ops", time.perf_counter()))
        burn_after = burn()
        timed = [o for o in ops if not o["traced"] and not o["warm"] and o["ok"]]
        # the median op's peak: one op that catches Spark spawning an extra
        # set of Python workers does not decide the run
        peak_rss = _median([o["rss_mb"] for o in timed])
        counts = self.counts(wl)
        phases.append(("counts", time.perf_counter()))
        failed = sum(not o["ok"] for o in ops)
        # host speed right now, as the reference job sees it: the timed
        # end-to-end metrics are scaled to a host that runs it in REF_S
        scale = REF_S / _median(refs)
        setup_s = _median(setup_times)
        op_ms = _median([o["s"] * 1000 for o in timed])
        result = {
            "workload": name,
            "attempted": len(ops),
            "failed": failed,
            "phase_s": {b[0]: b[1] - a[1] for a, b in zip(phases, phases[1:])},
            "setup_s_all": setup_times,
            "host_burn_s": {"before": burn_before, "after": burn_after},
            "reference_s": refs,
            "unscaled": {"setup_s": setup_s, "op_p50_ms": op_ms},
            "e2e": {
                "setup_s": (setup_s * scale, "s"),
                "op_p50_scaled_ms": (op_ms * scale, "ms"),
                "bytes_per_raw_byte": (counts["bytes_per_raw_byte"], "ratio"),
                "peak_rss_mb": (peak_rss, "MB"),
            },
            "named": {
                "setup_s": (setup_s, "s"),
                **wl.named(timed),
                "bytes_per_raw_byte": (counts["bytes_per_raw_byte"], "ratio"),
                "failed_ops_frac": (failed / len(ops), "ratio"),
                "peak_rss_mb": (peak_rss, "MB"),
            },
            "ops": [[o["s"], o.get("rss_mb"), o["traced"], o["ok"], o.get("parts")] for o in ops],
            "counts": counts,
            "errors": [o["error"] for o in ops if "error" in o][:5],
        }
        if self.trace:
            overhead = trace_overhead_ms(ops)
            layers = self.layers(wl, ops)
            layers.update({k: v for k, v in counts.items() if k != "bytes_per_raw_byte"})
            layers["trace.overhead_ms"] = overhead
            result["layers"] = layers
            result["layers_extra"] = wl.layer_extra()
            result["trace_overhead"] = {
                "traced_ops": sum(o["traced"] for o in ops),
                "overhead_ms": overhead,
                "overhead_frac": overhead / op_ms,
            }
            result["self_s"] = self.tr.layer_self_s()
        shutil.rmtree(os.path.join(self.work, name), ignore_errors=True)
        return result
