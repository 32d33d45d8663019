"""SparkSession factory with the engine's required configuration.

Arrow execution + AQE (skew handling, partition coalescing) are load-bearing:
every encode/decode kernel is an Arrow-native grouped UDF (applyInArrow), and AQE is the
runtime half of the skew strategy (the planning half is n_tok-aware bucket
fan-out in chunking.py).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_COUNT = r"[1-9][0-9]*"
_BYTES = r"[1-9][0-9]*([kmgtp]b?|b)?"  # Spark/JVM byte-size strings: 512m, 32mb, 1g
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env(name: str, default: str, pattern: str) -> str:
    """Environment override `name` (else `default`); a malformed value fails
    here, by name, instead of as an opaque Spark/JVM error at launch."""
    value = os.environ.get(name, default)
    if not re.fullmatch(pattern, value, re.IGNORECASE):
        raise ValueError(f"{name}={value!r} is malformed; expected a value matching {pattern}")
    return value


def _host_ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def get_spark(
    master: str | None = None,
    app_name: str = "tokenlake",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """`master=""` (empty string) means: do NOT set a master here — inherit
    whatever `spark-submit --master ...` / the cluster manager provided.
    That is the deploy path (jobs/submit_encode.py); `None` keeps the
    local[] default for in-process library use and tests."""
    cpus = _env("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))), _COUNT)
    inherit = master == ""
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if inherit:
            # cluster mode: executors × cores isn't knowable here; AQE
            # coalescing makes 2× core-count a safe static floor, and the
            # deploy wrapper can override per cluster size
            shuffle_partitions = int(_env("TOKENLAKE_SHUFFLE_PARTITIONS", "64", _COUNT))
        else:
            n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
            # local[4,2] (maxFailures) and local-cluster[2,1,1024] are valid
            # master forms: take the FIRST bracket field; anything
            # unparsable falls back to the host's core count instead of
            # crashing before the session even builds
            head = n.split(",")[0].strip()
            # 1× the core count: an interleaved A/B (r7) of 2×-core shuffle
            # partitions measured encode consistently SLOWER (min 5.3s vs
            # 2.8s at bench scale) — the doubled reduce-task count costs
            # more in per-task Arrow/Python launch overhead than it buys in
            # group balance, and AQE already splits genuinely skewed
            # partitions
            shuffle_partitions = max(8, int(head if head.isdigit() else cpus))
    builder = SparkSession.builder
    if not inherit:
        builder = builder.master(master)
        if master.startswith("local"):
            # local Python workers inherit the JVM's PYTHONPATH, not the
            # driver's sys.path: put this package's root on it so UDFs that
            # reference tokenlake unpickle wherever the caller imported it
            builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIME columns (experimental in this Spark line, off by default);
        # the generic registry stores them through the int carrier paths
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows carry ~1.6 KB token arrays: 8192-row Arrow batches ≈ 13 MB keep
        # per-task JVM buffering bounded with many concurrent grouped-UDF tasks
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # token-array rows expand several × from parquet to in-memory Arrow;
        # 32 MB splits keep scan tasks balanced and fan out single big files.
        # An interleaved A/B (r7) of 16 MB splits measured encode SLOWER
        # (min 5.3s vs 2.8s): halving split size doubles map tasks feeding
        # the chunk shuffle, and fixed per-task overhead beats the extra
        # scan parallelism. Parameterised for clusters with TB inputs
        # (guide §6: bigger sequential scans want bigger splits).
        .config(
            "spark.sql.files.maxPartitionBytes",
            _env("TOKENLAKE_MAX_PARTITION_BYTES", str(32 * 1024 * 1024), _BYTES),
        )
        # files.openCostInBytes deliberately stays at the Spark default
        # (4 MB): an interleaved A/B over a 5,334-chunk / 667-file encoded
        # table measured a 16 MB open cost 2-4x SLOWER on every path
        # (decode 1.6-2.1s -> 5.3-6.0s, lookup 4.5-5.3s -> 16.7-21.6s,
        # plan_from_encoded 0.55s -> 1.2-1.9s) — one-file-per-task pays a
        # per-task Python/launch overhead that swamps the parallelism gain
        .config(
            "spark.driver.memory",
            _env("TOKENLAKE_DRIVER_MEM", f"{min(48 * 1024, _host_ram_mb())}m", _BYTES),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    return builder.getOrCreate()
