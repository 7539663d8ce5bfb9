"""Per-partition checkpointed lineage + metrics + resume.

The reference restarts whole entities via a Mongo status collection and a
retry counter (ProVe_main_service.py:240-271, utils/mongo_handler.py:280-349).
Our batch equivalent (BASELINE.json: "resumable from checkpoint with
per-partition lineage + metrics"):

- The triple output is laid out by a STABLE bucket id
  (pmod(xxhash64(conv_id), n_buckets)) — independent of cluster size, so a
  resume on different parallelism reuses completed work.
- After each bucket group commits, a manifest row (bucket, n_rows,
  n_convs, wall_sec, input_fingerprint, completed_ts) is appended to the
  `manifest` table per bucket — that is the lineage + metrics record. Its
  `input_fingerprint` is the fingerprint of that bucket's input rows only.
- One rule decides what to recompute: a bucket is done when its LATEST
  manifest row carries the bucket's current fingerprint. So a rerun over
  the same input skips everything, a crash resumes with the buckets that
  never committed, and a rerun over changed input recomputes only the
  buckets whose input changed. The latest row wins, not any matching row:
  after an edit and its revert an older row matches the input again while
  the files still hold the edit.
- Each group deletes its own buckets' files before it overwrites them
  (dynamic partition overwrite replaces only buckets present in the new
  output, so a recomputed bucket that yields no rows would otherwise keep
  stale files), and touches no other group's buckets.
- Two bucket groups are in flight at once: each group's plan, eager cache
  fill and triples write run on a driver thread pool of width
  `_GROUPS_IN_FLIGHT` (2), so one group's serial driver work overlaps the
  other's executor work. The manifest has a single writer, the calling
  thread, which appends each group's rows as the group finishes. A crash
  can therefore leave a finished group's triples without manifest rows —
  the same state as a crash between a group's write and its append, which
  resume recomputes.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from datetime import datetime, timezone

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..sources.tables import TableIO, with_bucket

MANIFEST_SCHEMA = (
    "bucket int, n_rows long, n_convs long, wall_sec double, "
    "input_fingerprint string, completed_ts timestamp"
)

# Bucket groups in flight at once. While one group writes, the next plans on
# the driver and fills its caches, so the executors stay busy through the
# serial driver phases. On a 4-core box (perfbench arrow_build, local[3]) a
# width of 4 measured no faster than 2, and every group in flight holds its
# own cached intermediates: 2 keeps the gain and bounds memory.
_GROUPS_IN_FLIGHT = 2

# fingerprint of a bucket with no input rows
_EMPTY_BUCKET = "0:0"


def input_fingerprint(transcripts: DataFrame, n_buckets: int) -> dict[int, str]:
    """Order-insensitive content fingerprint "h:n" of each bucket's input
    rows, from one aggregation; a bucket with no input rows gets
    `_EMPTY_BUCKET`. Pins each manifest row to its bucket's exact input."""
    rows = (
        with_bucket(transcripts, "conv_id", n_buckets)
        .groupBy("bucket")
        .agg(
            F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("h"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    fps = dict.fromkeys(range(n_buckets), _EMPTY_BUCKET)
    fps.update((r.bucket, f"{r.h}:{r.n}") for r in rows)
    return fps


def completed_buckets(io: TableIO, fingerprints: dict[int, str]) -> set[int]:
    """Buckets whose LATEST manifest row carries their current fingerprint
    (one bucket-scale collect)."""
    if not io.exists("manifest"):
        return set()
    rows = (
        io.read("manifest")
        .groupBy("bucket")
        .agg(F.max_by("input_fingerprint", "completed_ts").alias("fp"))
        .collect()
    )
    return {r.bucket for r in rows if fingerprints.get(r.bucket) == r.fp}


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse: str,
    config: PipelineConfig = DEFAULT_CONFIG,
    bucket_groups: int = 4,
    fail_after_groups: int | None = None,
) -> DataFrame:
    """Build or refresh triples with per-bucket-group checkpointing; returns
    the final triples table reader. Only the buckets that
    `completed_buckets` does not vouch for are recomputed: all of them on a
    fresh warehouse, the uncommitted ones after a crash, the changed ones
    after an input change, none on a rerun over the same input.

    bucket_groups: how many commit units the buckets to recompute are
    folded into (each commit = one Spark write over a subset of
    conversations + one manifest append). Two groups are in flight at once
    (`_GROUPS_IN_FLIGHT`: wider measured no faster and holds more cached
    intermediates), so a group plans and extracts while the one before it
    writes. When the triples table exists, each group deletes its own
    buckets' files before its write. Only this thread appends to the
    manifest, one commit per finished group, in completion order.
    fail_after_groups: test hook — raise after k manifest commits to
    simulate a mid-run crash; groups not yet started are cancelled, and a
    group already in flight may still write its triples without a manifest
    row, which resume recomputes.
    """
    io = TableIO(spark, warehouse)
    fps = input_fingerprint(transcripts, config.n_buckets)
    done = completed_buckets(io, fps)
    replace = io.exists("triples")

    bucketed = with_bucket(transcripts, "conv_id", config.n_buckets)
    groups = [
        [
            b
            for b in range(config.n_buckets)
            if b % bucket_groups == g and b not in done
        ]
        for g in range(bucket_groups)
    ]
    pool = ThreadPoolExecutor(_GROUPS_IN_FLIGHT, "bucket-group")
    try:
        running = {
            pool.submit(
                _on_pool_thread(spark, _write_group),
                spark, io, bucketed, todo, config, replace,
            ): todo
            for todo in groups
            if todo
        }
        for committed, fut in enumerate(as_completed(running), 1):
            _append_bucket_manifest(spark, io, running[fut], fut.result(), fps)
            if fail_after_groups is not None and committed >= fail_after_groups:
                raise RuntimeError(
                    f"simulated failure after {committed} commits"
                )
    finally:
        # on a failure: drop the groups not started, wait out those in flight
        # so no write outlives this call
        pool.shutdown(wait=True, cancel_futures=True)
    return _read_triples_or_empty(spark, io)


def _on_pool_thread(spark: SparkSession, fn):
    """`fn` made to run on a pool thread as it would on this one. py4j gives
    each Python thread its own JVM thread, which has neither this thread's
    local properties (job group, scheduler pool) nor an active session
    (SQLConf.get there returns the defaults, not this session's conf)."""

    @inheritable_thread_target(spark)
    def run(*args):
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
        return fn(*args)

    return run


def _write_group(
    spark: SparkSession,
    io: TableIO,
    bucketed: DataFrame,
    buckets: list[int],
    config: PipelineConfig,
    replace: bool,
) -> float:
    """Plan, build and write one bucket group's triples; returns its wall
    seconds. With `replace`, the group's old bucket files are deleted
    before the write, so a bucket that now yields no rows keeps none. Its
    cached intermediates are dropped before it returns."""
    from .run import build_triples

    t0 = time.time()
    caches: list = []
    triples = build_triples(
        spark,
        bucketed.where(F.col("bucket").isin(buckets)).drop("bucket"),
        config,
        cache_registry=caches,
    )
    out = with_bucket(triples, "conv_id", config.n_buckets)
    if replace:
        io.delete_buckets("triples", buckets)
    io.overwrite_buckets(out, "triples", "bucket")
    for df in caches:
        df.unpersist()
    return time.time() - t0


def _empty_triples_schema() -> str:
    """Empty-but-typed triples frame schema: a run (or delta) whose output
    is zero rows writes no parquet files at all, and a raw read would die on
    schema inference. Derived from the pipeline's own TRIPLES_DDL (plus the
    bucket partition column this module appends) so the fallback cannot
    drift from the real output contract."""
    from .run import TRIPLES_DDL

    return TRIPLES_DDL + ", bucket int"


def _read_triples_or_empty(spark: SparkSession, io: TableIO) -> DataFrame:
    if not io.exists("triples"):
        return spark.createDataFrame([], schema=_empty_triples_schema())
    return io.read("triples")


def _append_bucket_manifest(
    spark: SparkSession,
    io: TableIO,
    buckets: list[int],
    wall: float,
    fingerprints: dict[int, str],
) -> None:
    """Append one lineage row per bucket, carrying that bucket's input
    fingerprint, with stats read back from the files just WRITTEN
    (recomputing the output frame would re-run the whole pipeline for the
    group). The read-back lists only these buckets' partitions: another
    group's commit may be moving other partitions at the same moment.
    Buckets whose write produced zero rows — or a table whose every file
    was just deleted — still get rows, with zero stats. The rows are
    written as one partition, so one file per commit."""
    written = io.read_buckets("triples", buckets)
    stats = (
        []
        if written is None
        else written.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .collect()
    )
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    by_bucket = {int(s.bucket): s for s in stats}
    manifest = spark.createDataFrame(
        [
            (
                b,
                int(by_bucket[b].n_rows) if b in by_bucket else 0,
                int(by_bucket[b].n_convs) if b in by_bucket else 0,
                wall,
                fingerprints[b],
                now,
            )
            for b in buckets  # empty buckets still get lineage rows
        ],
        schema=MANIFEST_SCHEMA,
    )
    io.append(manifest.coalesce(1), "manifest")


def incremental_update(
    spark: SparkSession,
    transcripts_now: DataFrame,
    changed_conv_ids: DataFrame,
    warehouse: str,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Refresh an existing triples table to `transcripts_now`: the one
    commit of [run_checkpointed] over it, which recomputes only the buckets
    whose input fingerprint changed (added, updated and deleted
    conversations all change their bucket's fingerprint) and leaves every
    other bucket's files untouched. When a day's delta lands in a 100 TB
    corpus, cost is proportional to the delta's bucket footprint, not the
    corpus.

    `changed_conv_ids` is not consulted: the fingerprints find the changed
    buckets, so a list that misses a change cannot leave a stale bucket
    behind. The argument stays for callers that pass it."""
    io = TableIO(spark, warehouse)
    if not io.exists("triples") or not io.exists("manifest"):
        raise ValueError(
            "incremental_update needs an existing triples+manifest table; "
            "run run_checkpointed first"
        )
    return run_checkpointed(
        spark, transcripts_now, warehouse, config, bucket_groups=1
    )


def stage_metrics(io: TableIO) -> DataFrame:
    """Lineage/metrics read path (A7-shaped parser-stats analog)."""
    return io.read("manifest").orderBy("bucket", "completed_ts")


def bucket_file_counts(io: TableIO, table: str) -> dict[int, int]:
    """Visible parquet files per bucket partition, via the Hadoop FS API
    (s3a/hdfs/file all behave identically — see TableIO). Bucket-scale
    listing (<= n_buckets dirs), same driver-side bound as the manifest."""
    if io.use_iceberg:
        raise NotImplementedError(
            "Iceberg tables carry their own file inventory and rewrite "
            "action (metadata `files` table + rewrite_data_files); this "
            "listing is the parquet-layout path"
        )
    if not io.exists(table):
        # fresh warehouse / wrong name: an empty inventory (so compaction
        # is a clean no-op) beats an opaque Py4J FileNotFoundException
        return {}
    fs, root = io._fs(io.path(table))
    counts: dict[int, int] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("bucket=")):
            continue
        n = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
        counts[int(name.split("=", 1)[1])] = n
    return counts


def compact_buckets(
    spark: SparkSession,
    warehouse: str,
    table: str = "triples",
    max_files_per_bucket: int = 1,
) -> list[int]:
    """Small-file compaction for the bucket-partitioned layout — the
    maintenance pass a long-lived table needs after many [incremental_update]
    deltas (each touched-bucket rewrite is one file, but repeated partial
    builds and resumes accumulate fragments). Rewrites ONLY buckets whose
    visible file count exceeds the bound, via the same idempotent dynamic
    partition overwrite the resume path uses; every other bucket's files
    stay byte-untouched (pinned in tests). Returns the compacted bucket ids.

    Scale shape: detection is a bucket-scale FS listing (no data read);
    the rewrite reads only the fragmented buckets (partition-pruned scan)
    and `repartition(k, "bucket")` hash-routes each bucket to exactly one
    task, so dynamic partitioning emits exactly one file per bucket.
    Iceberg mode is a documented non-goal here: Iceberg ships its own
    `rewrite_data_files` maintenance action — use that."""
    io = TableIO(spark, warehouse)
    counts = bucket_file_counts(io, table)
    fragmented = sorted(
        b for b, n in counts.items() if n > max_files_per_bucket
    )
    if not fragmented:
        return []
    df = io.read(table).where(F.col("bucket").isin(fragmented))
    out = df.repartition(len(fragmented), "bucket")
    io.overwrite_buckets(out, table, "bucket")
    return fragmented
