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

import atexit
import contextlib
import glob
import hashlib
import os
import shlex
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# The dump at JVM exit took 9-11 s for archives of 137-180 MB on a 4-core box.
_DUMP_TIMEOUT_S = 120
# Directories the Spark launcher puts on the driver classpath besides the
# jars: the JVM will not dump an archive while one of them is non-empty.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


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
        java_opts = " ".join(map(shlex.quote, ["-XX:+UseParallelGC", *_cds_options()]))
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
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


def _cds_options() -> list[str]:
    """Driver JVM options for class-data sharing (JEP 350 dynamic AppCDS).

    Loading and verifying Spark's classes is most of session start. With an
    archive of this JDK + Spark install in the cache, the JVM maps it
    instead (perfbench set-up: 7 s -> 3 s on a 4-core box). Without one, it
    dumps one at exit into a temp file; an exit hook publishes it by atomic
    rename only if the JVM exited cleanly, because a truncated archive at
    the final path crashes the next JVM (SIGBUS) rather than being ignored.

    Empty when this process attaches to a JVM it did not launch, or when a
    directory holding real config is on the classpath: the JVM will not
    dump then, and pointing SPARK_CONF_DIR away would drop that config.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return []
    java_home = os.environ.get("JAVA_HOME")
    # the java the launcher runs; a source build of Spark has no jars dir
    java = shutil.which(os.path.join(java_home, "bin", "java") if java_home else "java")
    spark_home = _find_spark_home()
    if not java or not os.path.isdir(os.path.join(spark_home, "jars")):
        return []
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    with contextlib.suppress(FileNotFoundError):
        if any(not name.endswith(".template") for name in os.listdir(conf_dir)):
            return []
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return []

    # Spark never reads *.template files, so an empty conf dir is the same
    # config; a fixed one keeps the archived classpath equal across runs.
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "prove_spark"
    )
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:  # no writable cache dir: start plainly
        return []
    os.environ["SPARK_CONF_DIR"] = empty_conf
    archive = os.path.join(cache, f"driver-{_install_key(java, spark_home)}.jsa")
    # CDS warnings (one per class the dump skips, e.g. all of Janino's
    # signed jar, and one for an archive it cannot use) go to the JVM's
    # stdout, which is the job's stdout.
    quiet = "-Xlog:cds*=off"
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}", quiet]
    _remove_orphan_dumps(archive)
    tmp = f"{archive}.{os.getpid()}.tmp"
    atexit.register(_publish_archive, tmp, archive)
    return [f"-XX:ArchiveClassesAtExit={tmp}", quiet]


def _install_key(java: str, spark_home: str) -> str:
    """Hash of the JDK binary and every jar of the Spark install."""
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\0{os.stat(java).st_mtime_ns}\0".encode())
    h.update(os.path.realpath(spark_home).encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _remove_orphan_dumps(archive: str) -> None:
    """Delete temp dumps left by processes that died before their exit hook
    ran (their JVM still dumps when its stdin closes)."""
    for tmp in glob.glob(f"{glob.escape(archive)}.*.tmp"):
        try:
            os.kill(int(tmp.rsplit(".", 2)[1]), 0)
        except (ProcessLookupError, ValueError):
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
        except PermissionError:
            pass


def _publish_archive(tmp: str, archive: str) -> None:
    """Exit hook of the dumping process: end the driver JVM by closing its
    stdin (the gateway exits on EOF, dumping the archive), wait for it, and
    rename the dump into place only if the JVM exited with code 0."""
    proc = getattr(SparkContext._gateway, "proc", None)
    code = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            code = proc.wait(timeout=_DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if code == 0 and os.path.exists(tmp):
        os.replace(tmp, archive)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
