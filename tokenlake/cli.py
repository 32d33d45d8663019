"""CLI lifecycle surface — parity with parquet-linter-cli
(src/parquet-linter-cli/src/main.rs:88-230).

    python -m tokenlake lint INPUT.parquet [--fraction F] [--rules a,b]
        [--severity suggestion|warning|error] [--prescription-out FILE]
    python -m tokenlake rewrite INPUT.parquet -o OUTDIR
        [--from-prescription FILE] [--dry-run]

Reference parity points:
- `lint` is the default-style analysis: sampled decisions printed as a table,
  filtered by `--severity` (cli/main.rs:98-129), optional merged-prescription
  export (`--prescription-out`, cli/main.rs:103-118), **exit 1** when any
  warning/error remains (has_warnings_or_errors, lib.rs:48-52 /
  cli/main.rs:131-133).
- `rewrite` re-lints by default (cli/main.rs:186-199) or loads a prescription
  with `--from-prescription` (:148-184); conflicts are warnings and the last
  directive wins (warn_if_conflicting_for_apply, :75-82); `--dry-run` prints
  the directives without encoding (:213-219).

Engine-lifecycle additions beyond the reference CLI (the reference reads
standard parquet back with any parquet reader; this engine's chunk format
needs its own reader and its north rule demands a bit-identity gate):

    python -m tokenlake decode ENCODED_DIR -o OUTDIR [--columns a,b]
    python -m tokenlake verify REFERENCE.parquet ENCODED_DIR [--exact]
    python -m tokenlake compact ENCODED_DIR -o OUTDIR [--min-rows N]

- `decode` materializes the sequences back to plain parquet; `--columns`
  projects the decode (only the needed payload columns are scanned).
- `verify` compares the decoded table against the original sequences —
  hash-digest by default, `--exact` for the full-outer-join per-row
  certificate — and **exits 1** on any mismatch (the CI shape of the
  north rule's "bit-identical decode pass rate 100%").
"""

from __future__ import annotations

import argparse
import functools
import http.client as _http_client
import json
import sys

SEVERITY_RANK = {"suggestion": 0, "warning": 1, "error": 2}


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tokenlake")
    sub = p.add_subparsers(dest="command", required=True)
    # shared by every Spark-backed subcommand; None lets get_spark size the
    # local master to the host (SPARK_GRAFT_CPUS, else the usable CPU count)
    spark_args = argparse.ArgumentParser(add_help=False)
    spark_args.add_argument("--cpus", type=int, default=None, help="local Spark cores")
    spark_cmd = functools.partial(sub.add_parser, parents=[spark_args])

    lint = spark_cmd("lint", help="sampled plan-only analysis of a sequences parquet")
    lint.add_argument("input")
    lint.add_argument(
        "--format", default="parquet", choices=["parquet", "iceberg"],
        help="input source: parquet dir, or an Iceberg catalog table "
        "(requires the Iceberg Spark runtime on the classpath)",
    )
    lint.add_argument("--fraction", type=float, default=0.05)
    lint.add_argument("--rules", default=None, help="comma-separated rule-name filter")
    lint.add_argument(
        "--severity", default="suggestion", choices=list(SEVERITY_RANK),
        help="print only diagnostics at or above this level",
    )
    lint.add_argument("--prescription-out", default=None)

    rw = spark_cmd("rewrite", help="lint-and-fix: encode with the merged prescription")
    rw.add_argument("input")
    rw.add_argument(
        "--format", default="parquet", choices=["parquet", "iceberg"],
        help="input source: parquet dir, or an Iceberg catalog table "
        "(requires the Iceberg Spark runtime on the classpath)",
    )
    rw.add_argument("-o", "--out", required=True)
    rw.add_argument("--from-prescription", default=None)
    rw.add_argument(
        "--from-evidence", action="store_true",
        help="INPUT is an ENCODED table dir: re-encode only the chunks whose "
        "stored-evidence lint flags enable/disable-dictionary or "
        "enable/disable-compression, copying every other chunk "
        "byte-identically (the lint→rewrite lifecycle on the engine's own "
        "format); --dry-run lists those verdicts",
    )
    rw.add_argument("--dry-run", action="store_true")
    rw.add_argument("--fraction", type=float, default=0.05)
    rw.add_argument(
        "--rules", default=None,
        help="comma-separated rule names: apply only these rules' fixes "
        "(reference `rewrite --rules`, cli/main.rs:44-46)",
    )
    rw.add_argument(
        "--export-prescription", default=None, metavar="FILE",
        help="also write the merged prescription DSL to FILE "
        "(reference `--export-prescription`, cli/main.rs:53-54)",
    )

    dec = spark_cmd("decode", help="decode an encoded table back to sequences parquet")
    dec.add_argument("input", help="encoded output dir (as written by rewrite)")
    dec.add_argument("-o", "--out", required=True)
    dec.add_argument(
        "--columns", default=None,
        help="comma-separated projection, e.g. tokens,n_tok (default: all)",
    )
    dec.add_argument(
        "--local", action="store_true",
        help="decode in-process with pyarrow (no Spark/JVM; one process, one "
        "machine — for small tables, notebooks, and format cross-checks)",
    )

    ver = spark_cmd("verify", help="bit-identity gate: decoded vs reference sequences")
    ver.add_argument("reference", help="original sequences parquet")
    ver.add_argument("encoded", help="encoded output dir")
    ver.add_argument(
        "--exact", action="store_true",
        help="full-outer-join per-row certificate (default: per-source hash digest)",
    )

    cp = spark_cmd("compact", help="merge undersized chunks of an encoded table")
    cp.add_argument("input", help="encoded table dir (source; never mutated)")
    cp.add_argument("-o", "--out", required=True, help="destination encoded table dir")
    cp.add_argument("--min-rows", type=int, default=None,
                    help="chunks under this row count are merged (default: half the row cap)")

    le = spark_cmd(
        "lint-encoded",
        help="R1 evidence tier over a stored table: classify dictionary "
        "status from the actual chunk encodings (metrics-only, no sampling)",
    )
    le.add_argument("input", help="encoded table dir")
    le.add_argument(
        "--severity", default="suggestion", choices=list(SEVERITY_RANK),
        help="print only diagnostics at or above this level",
    )

    lk = spark_cmd(
        "lookup",
        help="point lookup: decode only the chunks that can contain the "
        "requested doc ids (candidate derivation + doc_id bloom pruning)",
    )
    lk.add_argument("input", help="encoded table dir")
    lk.add_argument("doc_ids", help="comma-separated doc ids")
    lk.add_argument("-o", "--out", default=None, help="write results as parquet (default: print)")

    sc = spark_cmd(
        "scan",
        help="value scan over a stored table: --token probes the token "
        "membership filters; --range COL LO HI prunes on the per-chunk "
        "min/max zone maps",
    )
    sc.add_argument("input", help="encoded table dir")
    sc.add_argument("--token", type=int, default=None, help="token value to scan for")
    sc.add_argument(
        "--range", nargs=3, metavar=("COL", "LO", "HI"), default=None,
        help="column + inclusive bounds: ints for the int family, ISO "
        "strings for temporal columns (2026-08-17 → date, "
        "2026-08-17T12:00:00[+00:00] → timestamp, 12:34:56 → time)",
    )
    sc.add_argument("-o", "--out", default=None, help="write results as parquet (default: count)")

    cu = spark_cmd(
        "curate",
        help="token-level curation funnel: drop eval-contaminated docs, "
        "then docs whose duplicated-span fraction exceeds the threshold "
        "(ExactSubstr-style); writes per-doc verdicts + the kept sequences",
    )
    cu.add_argument("input", help="sequences parquet dir (or encoded table dir with --encoded)")
    cu.add_argument("--eval", dest="eval_path", required=True,
                    help="eval-set sequences parquet (spans broadcast for the probe)")
    cu.add_argument("-o", "--out", required=True, help="output dir (verdicts/ + kept/)")
    cu.add_argument("--n", type=int, default=16, help="span length in tokens")
    cu.add_argument("--stride", type=int, default=8,
                    help="span offset stride (n = non-overlapping tiling; 1 = exact)")
    cu.add_argument("--max-dup-frac", type=float, default=0.5,
                    help="drop docs with dup_spans > n_spans × this")
    cu.add_argument("--winnow", type=int, default=None, metavar="W",
                    help="use winnowed fingerprints (window W) for the dup "
                    "profile: alignment-robust at ~2/(W+1) the keys; "
                    "contamination stays exact-span")
    cu.add_argument("--max-dup-bigram-frac", type=float, default=None,
                    help="Gopher repetition gate (fires first): drop docs "
                    "whose duplicate-bigram fraction exceeds this")
    cu.add_argument("--encoded", action="store_true",
                    help="input is an encoded tokenlake table (projected decode)")

    ft = sub.add_parser(
        "fetch",
        help="idempotent streaming fetch: skip-if-exists per file, so a "
        "killed multi-file fetch resumes where it stopped",
    )
    ft.add_argument("url", nargs="?", default=None, help="source URL (file:// or http(s)://)")
    ft.add_argument("dest", nargs="?", default=None, help="local destination path")
    ft.add_argument(
        "--manifest", default=None,
        help="file of whitespace-separated 'URL DEST' lines, fetched in order",
    )
    return p


def _get_spark(spark, cpus: int | None):
    if spark is not None:
        return spark, False
    from .session import get_spark

    s = get_spark(
        master=None if cpus is None else f"local[{cpus}]", app_name="tokenlake-cli"
    )
    s.sparkContext.setLogLevel("ERROR")
    return s, True


def cmd_lint(args, spark=None) -> int:
    from pyspark.sql import functions as F

    from . import lint_job

    spark, own = _get_spark(spark, args.cpus)
    try:
        from .io_sources import read_sequences

        df = read_sequences(spark, args.input, format=args.format)
        decisions = lint_job.lint(spark, df, fraction=args.fraction)
        if args.rules:
            decisions = decisions.filter(F.col("rule").isin(_parse_rules(args.rules)))
        rows = decisions.collect()
        floor = SEVERITY_RANK[args.severity]
        shown = [r for r in rows if SEVERITY_RANK.get(r["severity"], 0) >= floor]
        for r in shown:
            print(
                f"{r['severity']:<10} {r['rule']:<32} {r['chunk_id']}:{r['column']}"
                f" -> {r['codec']} (~{r['est_bytes']} B)"
            )
        print(f"{len(shown)} diagnostics ({len(rows)} total before severity filter)")
        if args.prescription_out:
            # decisions carry per-chunk sample_fraction; no extra rescale
            rx = lint_job.prescription_from_decisions(decisions)
            with open(args.prescription_out, "w") as f:
                f.write(rx.format() + "\n")
            print(f"prescription written to {args.prescription_out}")
        # exit 1 on warnings/errors — the CI gate (lib.rs:48-52)
        gate = any(SEVERITY_RANK.get(r["severity"], 0) >= 1 for r in rows)
        return 1 if gate else 0
    finally:
        if own:
            spark.stop()


# every rule name a lint decision row can carry — `--rules` typos must fail
# loudly instead of silently filtering the CI gate down to zero rows
KNOWN_RULES = frozenset({
    "dictionary-encoding-cardinality", "timestamp-delta-encoding",
    "frame-of-reference", "run-length", "fsst-symbol-table",
    "low-compression-ratio", "bool-bitpack", "float-byte-stream-split",
    "string-byte-array-encoding", "delta-byte-array-front-coding",
    "forced", "enable-dictionary", "disable-dictionary",
    "dictionary-overflow", "no-evidence", "ok",
})


def _parse_rules(arg: str) -> list[str]:
    names = [r.strip() for r in arg.split(",") if r.strip()]
    unknown = sorted(set(names) - KNOWN_RULES)
    if unknown:
        raise SystemExit(
            f"unknown rule name(s) {unknown}; valid: {sorted(KNOWN_RULES)}"
        )
    return names


def cmd_rewrite(args, spark=None) -> int:
    from . import encode_job, lint_job
    from .plan import Prescription

    spark, own = _get_spark(spark, args.cpus)
    try:
        if args.from_evidence:
            if args.from_prescription:
                print("--from-evidence and --from-prescription are exclusive", file=sys.stderr)
                return 2
            if args.rules:
                # rewrite_from_evidence applies every evidence fix; silently
                # honoring a --rules subset would mislead exactly like the
                # --from-prescription case below
                print("--rules filters lint decisions; it has no effect with "
                      "--from-evidence", file=sys.stderr)
                return 2
            if args.export_prescription:
                print("--export-prescription writes the lint-derived DSL; "
                      "--from-evidence rewrites from stored metrics and has "
                      "none to export", file=sys.stderr)
                return 2
            if args.dry_run:
                from pyspark.sql import functions as F

                # every verdict the real rewrite acts on, not just dictionary
                ev = lint_job.lint_encoded(spark, args.input).filter(
                    F.col("rule").isin(*encode_job.REWRITE_RULES)
                )
                for r in ev.collect():
                    print(f"{r['severity']:<10} {r['rule']:<20} {r['chunk_id']}:{r['column']}")
                return 0
            summary = encode_job.rewrite_from_evidence(spark, args.input, args.out)
            print(json.dumps(summary))
            return 0
        from .io_sources import read_sequences

        df = read_sequences(spark, args.input, format=args.format)
        if args.from_prescription:
            if args.rules:
                print("--rules filters lint decisions; it has no effect with "
                      "--from-prescription", file=sys.stderr)
                return 2
            with open(args.from_prescription) as f:
                rx = Prescription.parse(f.read())
        else:
            decisions = lint_job.lint(spark, df, fraction=args.fraction)
            if args.rules:
                from pyspark.sql import functions as F

                decisions = decisions.filter(F.col("rule").isin(_parse_rules(args.rules)))
            # decisions carry per-chunk sample_fraction; no extra rescale
            rx = lint_job.prescription_from_decisions(decisions)
        for err in rx.validate():
            print(f"warning: {err}; applying anyway (last directive wins)", file=sys.stderr)
        if args.export_prescription:
            text = rx.format()
            with open(args.export_prescription, "w") as f:
                f.write(text if text.endswith("\n") else text + "\n")
        if args.dry_run:
            print(rx.format())
            return 0
        summary = encode_job.run(spark, df, args.out, cfg=rx.apply())
        print(json.dumps(summary))
        return 0
    finally:
        if own:
            spark.stop()


def cmd_decode(args, spark=None) -> int:
    from . import decode_job

    cols = args.columns.split(",") if args.columns else None
    if args.local:
        import os

        import pyarrow.parquet as pq

        from .local_reader import read_encoded_local

        t = read_encoded_local(args.input, columns=cols)
        os.makedirs(args.out, exist_ok=False)
        pq.write_table(t, os.path.join(args.out, "part-0.parquet"))
        print(json.dumps({"rows": t.num_rows, "columns": t.column_names, "out": args.out}))
        return 0

    spark, own = _get_spark(spark, args.cpus)
    try:
        dec = decode_job.decode(spark, args.input, columns=cols)
        dec.write.mode("error").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"rows": n, "columns": dec.columns, "out": args.out}))
        return 0
    finally:
        if own:
            spark.stop()


def cmd_verify(args, spark=None) -> int:
    from . import decode_job
    from .verify import verify_bit_identical, verify_by_hash

    spark, own = _get_spark(spark, args.cpus)
    try:
        ref = spark.read.parquet(args.reference)
        dec = decode_job.decode(spark, args.encoded)
        check = verify_bit_identical if args.exact else verify_by_hash
        result = check(ref, dec)
        print(json.dumps({"mode": "exact_join" if args.exact else "hash_digest", **result}))
        return 0 if result["pass"] else 1
    finally:
        if own:
            spark.stop()


def cmd_lint_encoded(args, spark=None) -> int:
    from . import lint_job

    spark, own = _get_spark(spark, args.cpus)
    try:
        rows = lint_job.lint_encoded(spark, args.input).collect()
        floor = SEVERITY_RANK[args.severity]
        shown = [r for r in rows if SEVERITY_RANK.get(r["severity"], 0) >= floor]
        for r in shown:
            print(
                f"{r['severity']:<10} {r['rule']:<20} {r['chunk_id']}:{r['column']}"
                f" codec={r['codec']} ratio={r['cardinality_ratio']}"
            )
        print(f"{len(shown)} diagnostics ({len(rows)} total before severity filter)")
        # same CI gate as lint: exit 1 when evidence says change something
        return 1 if any(SEVERITY_RANK.get(r["severity"], 0) >= 1 for r in rows) else 0
    finally:
        if own:
            spark.stop()


def cmd_compact(args, spark=None) -> int:
    from . import encode_job

    spark, own = _get_spark(spark, args.cpus)
    try:
        summary = encode_job.compact(
            spark, args.input, args.out, min_rows=args.min_rows
        )
        print(json.dumps(summary))
        return 0
    finally:
        if own:
            spark.stop()


def cmd_lookup(args, spark=None) -> int:
    from . import decode_job

    spark, own = _get_spark(spark, args.cpus)
    try:
        ids = [d for d in args.doc_ids.split(",") if d]
        hit = decode_job.lookup(spark, args.input, ids)
        if args.out:
            hit.write.mode("error").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"requested": len(ids), "rows": n, "out": args.out}))
        else:
            rows = hit.collect()
            for r in rows:
                print(json.dumps({c: r[c] for c in ("doc_id", "n_tok", "source")}))
            print(json.dumps({"requested": len(ids), "rows": len(rows)}))
        return 0
    finally:
        if own:
            spark.stop()


def _parse_bound(s: str):
    """A --range bound: int for the int family, else an ISO temporal
    literal shaped like the column it targets (date / datetime / time).
    Mis-shaped bounds fail loudly in scan_value_range's carrier
    conversion, which names the column's actual dtype."""
    import datetime as _dt

    try:
        return int(s)
    except ValueError:
        pass
    if ":" in s and "-" not in s.split(":", 1)[0]:
        return _dt.time.fromisoformat(s)
    if "T" in s or " " in s or s.count(":") >= 2:
        return _dt.datetime.fromisoformat(s)
    return _dt.date.fromisoformat(s)


def cmd_scan(args, spark=None) -> int:
    from . import decode_job

    spark, own = _get_spark(spark, args.cpus)
    try:
        if (args.token is None) == (args.range is None):
            print("exactly one of --token / --range is required", file=sys.stderr)
            return 2
        if args.token is not None:
            df = decode_job.scan_token(spark, args.input, args.token)
        else:
            col, lo, hi = args.range
            df = decode_job.scan_value_range(
                spark, args.input, col, _parse_bound(lo), _parse_bound(hi)
            )
        if args.out:
            df.write.mode("error").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"rows": n, "out": args.out}))
        else:
            print(json.dumps({"rows": df.count()}))
        return 0
    finally:
        if own:
            spark.stop()


def cmd_curate(args, spark=None) -> int:
    """Curation funnel over raw or encoded sequences: per-doc verdicts to
    <out>/verdicts, the kept sequences to <out>/kept, summary JSON to
    stdout. The kept side is a LEFT SEMI join on doc_id — payload rows
    never shuffle for the verdict."""
    import os

    from pyspark.sql import functions as F

    from . import tokenops

    spark, own = _get_spark(spark, args.cpus)
    try:
        if args.encoded:
            from . import decode_job

            seqs = decode_job.decode(
                spark, args.input, columns=("doc_id", "tokens", "n_tok", "source")
            )
        else:
            seqs = spark.read.parquet(args.input)
        ev = spark.read.parquet(args.eval_path)
        verdicts = tokenops.curate_sequences(
            seqs, ev, n=args.n, stride=args.stride,
            max_dup_frac=args.max_dup_frac, winnow=args.winnow,
            max_dup_bigram_frac=args.max_dup_bigram_frac,
        )
        verdicts.write.mode("error").parquet(os.path.join(args.out, "verdicts"))
        v = spark.read.parquet(os.path.join(args.out, "verdicts"))
        keep_ids = v.filter("keep").select("doc_id")
        seqs.join(keep_ids, "doc_id", "left_semi").write.mode("error").parquet(
            os.path.join(args.out, "kept")
        )
        summary = v.agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("drop_reason") == "contaminated").cast("long")).alias(
                "dropped_contaminated"
            ),
            F.sum((F.col("drop_reason") == "duplicated").cast("long")).alias(
                "dropped_duplicated"
            ),
            # the Gopher gate's drops were invisible (counts no longer
            # summed to n_docs whenever --max-dup-bigram-frac was set)
            F.sum((F.col("drop_reason") == "repetitive").cast("long")).alias(
                "dropped_repetitive"
            ),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(F.lit(0))).alias(
                "kept_tokens"
            ),
        ).collect()[0]
        print(json.dumps({k: int(summary[k] or 0) for k in summary.asDict()}))
        return 0
    finally:
        if own:
            spark.stop()


def cmd_fetch(args) -> int:
    """S7 analog of the reference's indexed fetch loop
    (parquet-linter-leaderboard/src/main.rs calling download_if_missing per
    file): each line is fetched independently with skip-if-exists, so
    re-running after a kill resumes at the first missing file. No Spark
    session — this is driver-local I/O."""
    from .io_sources import fetch_if_missing

    if (args.manifest is None) == (args.url is None):
        print("exactly one of URL DEST / --manifest is required", file=sys.stderr)
        return 2
    if args.manifest is None and args.dest is None:
        print("DEST is required with URL", file=sys.stderr)
        return 2
    if args.manifest:
        with open(args.manifest) as fh:
            pairs = [ln.split() for ln in fh if ln.strip()]
        bad = [ln for ln in pairs if len(ln) != 2]
        if bad:
            print(f"manifest lines must be 'URL DEST': {bad[0]}", file=sys.stderr)
            return 2
    else:
        pairs = [(args.url, args.dest)]
    fetched = skipped = 0
    for i, (url, dest) in enumerate(pairs):
        try:
            hit = fetch_if_missing(url, dest)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        except (OSError, _http_client.HTTPException) as e:
            # URLError/HTTPError are OSError subclasses; a server that drops
            # the connection mid-body raises IncompleteRead (HTTPException,
            # NOT an OSError). Fail fast like the reference's loop, but
            # cleanly: completed files stay on disk, so re-running the same
            # manifest resumes at this entry.
            print(f"fetch #{i} failed: {url}: {e}", file=sys.stderr)
            print(json.dumps({"fetched": fetched, "skipped": skipped, "failed_at": i}))
            return 1
        if hit:
            print(f"fetched #{i}: {url} -> {dest}")
            fetched += 1
        else:
            print(f"skipped #{i}: {dest} (exists)")
            skipped += 1
    print(json.dumps({"fetched": fetched, "skipped": skipped}))
    return 0


def main(argv=None, spark=None) -> int:
    args = _build_parser().parse_args(argv)
    if args.command == "lint":
        return cmd_lint(args, spark)
    if args.command == "fetch":
        return cmd_fetch(args)
    if args.command == "decode":
        return cmd_decode(args, spark)
    if args.command == "verify":
        return cmd_verify(args, spark)
    if args.command == "compact":
        return cmd_compact(args, spark)
    if args.command == "lint-encoded":
        return cmd_lint_encoded(args, spark)
    if args.command == "lookup":
        return cmd_lookup(args, spark)
    if args.command == "scan":
        return cmd_scan(args, spark)
    if args.command == "curate":
        return cmd_curate(args, spark)
    return cmd_rewrite(args, spark)


if __name__ == "__main__":
    sys.exit(main())
