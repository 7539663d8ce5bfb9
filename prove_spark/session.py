"""SparkSession factory tuned for this engine.

Local-mode testing runs on local[N]; the same builder settings are what we
would ship to a multi-executor cluster via spark-submit (AQE on, Arrow on,
shuffle partitions sized explicitly, UTC session timezone so results are
oracle-comparable).

Iceberg is the intended production catalog (reference persists to MongoDB —
utils/mongo_handler.py:134-349; we persist to lakehouse tables instead). The
Iceberg runtime jar is not present in this sandbox, so `iceberg=True` is
gated: it configures a local Hadoop catalog only if the jar loads, else the
table layer transparently falls back to parquet (see sources/tables.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def graft_cpus() -> int:
    """Core count from SPARK_GRAFT_CPUS (default 32); a value that is not a
    positive integer raises a ValueError naming the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cores = int(raw)
    except ValueError:
        cores = 0
    if cores < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cores


def get_spark(
    app_name: str = "prove_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - AQE + skew-join handling on: runtime re-planning is our first line of
      defense against shuffle skew at 100 TB; explicit salting (operators/
      skew.py) covers applyInPandas group skew that AQE cannot see.
    - Arrow on with a bounded batch size: every model-ish stage is an
      Arrow-batched pandas kernel; maxRecordsPerBatch bounds Python-worker
      memory no matter how wide the text columns are.
    - shuffle.partitions defaults to local core count; on a real cluster set
      it to ~2-3x total executor cores via spark-submit --conf.

    Malformed SPARK_GRAFT_CPUS / SPARK_GRAFT_EXTRA_CONF values raise a
    ValueError naming the variable before any JVM or session is touched.
    """
    if master is None or shuffle_partitions is None:
        cores = graft_cpus()
        if master is None:
            master = f"local[{cores}]"
        if shuffle_partitions is None:
            shuffle_partitions = cores
    # experiment/tuning passthrough: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    env_conf = []
    for item in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if not item:
            continue
        k, sep, v = item.partition("=")
        if not sep:
            raise ValueError(f"SPARK_GRAFT_EXTRA_CONF item {item!r} has no '='")
        env_conf.append((k.strip(), v.strip()))

    # Throughput GC for a batch engine: ParallelGC measured ~10% faster than
    # the default G1 on the KG pipeline at BOTH 2 and 8 cores (and scales
    # better with core count — G1's concurrent cycles compete with task
    # threads). Must be set BEFORE the gateway JVM launches; builder conf is
    # too late for JVM options (unlike spark.driver.memory, which the
    # launcher does honor). Respect an explicit user override.
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--driver-java-options -XX:+UseParallelGC pyspark-shell"
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing (guide §4.2): Spark 4 bounds Python-worker
        # memory by BYTES (maxBytesPerBatch — the real memory bound, valid
        # at any row width), so the row cap no longer needs to be the
        # memory guard; it is raised high enough that batches are in
        # practice cut by the byte bound. Bigger batches amortize the
        # per-batch JVM↔Python round trip and make the unique-value
        # memoization in functions/arrow_kernels.py effective (measured,
        # A/B alternated at bench scale: kg arrow engine 5.5 s at the old
        # 4096-row cap -> 4.8 s at 64k -> 4.1-4.4 s bytes-bound).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ObjectHashAggregate (collect_list/set, min_by struct buffers, ...)
        # falls back to SORT-based aggregation after 4096 distinct keys per
        # task by default — the r6 dedup/LSH posting-list aggregations carry
        # tens of thousands of keys per task, and the fallback re-sorts the
        # full shingle/bucket stream (measured 2x on dedup_ngram_jaccard at
        # sf0.1). 128k buffers ≈ tens of MB per task — far inside executor
        # memory at any partition sizing this engine uses, and the sort
        # fallback still engages past it (memory-safety path preserved).
        .config(
            "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold",
            "131072",
        )
        # Accept subset co-partitioning for joins: our plans deliberately
        # join on (conv_id, claim_id) where the fact side is already
        # hash(conv_id)-partitioned by the upstream window — with the
        # default (true) Spark re-exchanges BOTH sides on the full key set,
        # shuffling the fact side a second time for nothing.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in env_conf:
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
