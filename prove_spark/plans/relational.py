"""Relational operator queries (SURVEY.md §2) over the TPC-H-ish testdata,
each paired with an ANSI-SQL DuckDB oracle.

Float discipline: any aggregate over doubles goes through
CAST(... AS DECIMAL(18,4)) so the sum is exact and associative in BOTH
engines, then the result is cast back to DOUBLE — one well-defined rounding,
bit-identical across engines regardless of aggregation order. Averages are
computed as exact-decimal-sum divided by count, in double.

Every computed column is aliased identically in the Spark plan and the SQL
(the driver hash-compares by sorted column name).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.skew import salted_agg


# Session-scoped cache of table-scan DataFrames (r6). This caches the LAZY
# PLAN object only — execution still reads the parquet every run (nothing
# materialized; the driver's no-result-caching rule is untouched). What it
# removes: `spark.read.parquet` re-ran file listing + footer schema read on
# every query invocation (~90 ms per table per call on this box — 5 tables
# = ~0.45 s of region_revenue's per-invocation driver time). Same hygiene
# as sources/dims.session_dim: keyed by applicationId, purged on session
# change. Intra-query table reuse already shared one DataFrame object per
# query function, so self-join disambiguation behavior is unchanged.
_TABLE_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        for k in [k for k in _TABLE_CACHE if k[0] != key[0]]:
            del _TABLE_CACHE[k]
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        _TABLE_CACHE[key] = df
        _TABLE_PATHS[(key[0], id(df))] = path
    return df


# (appId, id(df)) -> source path for DataFrames handed out by _t (the df is
# pinned alive by _TABLE_CACHE, so the id stays valid). Lets the scan-split
# estimator below work from file sizes instead of a plan->RDD conversion.
_TABLE_PATHS: dict = {}


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    try:
        v = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if v.endswith(suf):
            mult, v = m, v[: -len(suf)]
            break
    try:
        return int(float(v)) * mult
    except ValueError:
        return default


def _data_file_sizes(path: str) -> list[int] | None:
    """Byte sizes of a LOCAL table's data files: the file itself, or every
    file under a directory table (Spark's own output layout) except
    `_`/`.`-prefixed metadata and `.crc` checksums. None for paths this
    cannot size (non-local filesystems)."""
    if os.path.isfile(path):
        return [os.path.getsize(path)]
    if not os.path.isdir(path):
        return None
    return [
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", ".")) and not f.endswith(".crc")
    ]


def _estimate_scan_splits(spark: SparkSession, path: str) -> int | None:
    """Expected scan partition count from LOCAL file sizes, mirroring
    Spark's FilePartition math (maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalBytes/defaultParallelism)); files split into
    maxSplitBytes ranges, ranges packed with openCost charged per file).
    Exact agreement with Spark is not required — the one consumer compares
    the count against the core count to decide a small-input fan-out, and
    near the boundary either decision is fine. Returns None for paths this
    cannot size (non-local filesystems), sending the caller to the probe."""
    sizes = _data_file_sizes(path)
    if sizes is None:
        return None
    if not sizes:
        return 0
    max_pb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    total = sum(sizes) + open_cost * len(sizes)
    per_core = total // max(1, spark.sparkContext.defaultParallelism)
    max_split = max(1, min(max_pb, max(open_cost, per_core)))
    parts, cur = 0, 0
    for s in sizes:
        chunks = [max_split] * (s // max_split)
        if s % max_split or s == 0:
            chunks.append(s % max_split)
        for c in chunks:
            c += open_cost
            if cur + c > max_split and cur > 0:
                parts += 1
                cur = 0
            cur += c
    return parts + (1 if cur > 0 else 0)


def _dec_sum(col: str, alias: str) -> F.Column:
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double").alias(alias)


# (appId, id(df)) -> (df, planned scan partition count) — memoized probe
# (the plan→RDD conversion costs ~40 ms of driver time per call; _t hands
# out one DataFrame per (session, table), so one probe per table per
# session suffices). The df rides in the value to pin the id.
_NPART_CACHE: dict = {}


def _scan_partitions(spark: SparkSession, df: DataFrame) -> int:
    key = (spark.sparkContext.applicationId, id(df))
    hit = _NPART_CACHE.get(key)
    if hit is None or hit[0] is not df:
        for k in [k for k in _NPART_CACHE if k[0] != key[0]]:
            del _NPART_CACHE[k]
        # r6: DataFrames from _t carry their source path — size the scan
        # from the filesystem (pure Python, ~0.1 ms) instead of the
        # plan→RDD conversion (~40 ms warm, >100 ms on first cold use,
        # paid inside the bench's cold pass per probed table).
        path = _TABLE_PATHS.get(key)
        n = _estimate_scan_splits(spark, path) if path is not None else None
        if n is None:
            n = df.rdd.getNumPartitions()
        hit = (df, n)
        _NPART_CACHE[key] = hit
    return hit[1]


#: Minimum total scan bytes before the pre-window fan-out pays: below
#: this, the serial map-side sort of the concentrated input costs about as
#: much as the extra shuffle wave's fixed overhead (task launch + exchange
#: materialization), and the explicit repartition also forfeits map-side
#: WindowGroupLimit pruning into the shuffle — measured at sf0.1: the 2 MB
#: events table reads ~0.15-0.3 s SLOWER cold and no faster warm when
#: fanned out, while the 10.8 MB lineitem window halves its warm wall.
#: Total bytes (not bytes-per-nominal-split) is the statistic because the
#: splits<cores guard has already established the data sits on too few
#: tasks, and nominal split counts overstate real spread on
#: single-row-group files (a scan cannot parallelize below row-group
#: granularity). A DATA-size rule, not a core-count rule: at cluster
#: scale splits are maxPartitionBytes-sized and plentiful, so the
#: splits<cores guard is already false and this floor never evaluates.
_FANOUT_MIN_BYTES = 6 << 20

#: Target compressed bytes per fan-out split. The fan-out WIDTH is derived
#: from the data (total_bytes / this, clamped to [2, cores]), not pinned to
#: the core count: a full-width wave of tiny sort tasks pays ~core-count
#: task launches for work that saturates after a handful of splits —
#: measured on the 10.8 MB lineitem window (alternating, bench-order
#: session): width 32 cold 1.79-1.90 / warm 0.48-0.50, width 8 cold
#: 1.46-1.56 / warm 0.46-0.48, no fan-out cold 1.64-1.70 / warm 0.84-0.89
#: — the size-derived width beats BOTH on cold and ties the full width
#: warm. ~1.5 MB compressed is roughly 8-10 MB of in-memory rows: large
#: enough to amortize a task launch, small enough that the serial sort per
#: task stays sub-0.1 s.
_FANOUT_SPLIT_TARGET_BYTES = 3 << 19


def _fan_out_for_window(
    spark: SparkSession, df: DataFrame, *keys: str
) -> DataFrame:
    """Conditional pre-window fan-out (r6, guide §2.5 input-skew note).

    The testdata parquet files are single-file single-row-group, so a scan
    yields ONE effective task and the map-side Sort + partial
    WindowGroupLimit of a window query runs serially (measured 0.8 s of a
    1.05 s topk_per_group wall). A window partitioned by `keys` needs a
    hash(keys) exchange anyway; when (and only when) the scan supplies
    fewer splits than cores AND those splits are heavy enough that the
    serial sort dominates (see _FANOUT_MIN_BYTES), issue that
    exchange explicitly BELOW the sort so the sort/window work runs at
    full parallelism. The plan keeps exactly one exchange either way; on a
    many-split table (the 100 TB case) the condition is false and the plan
    is byte-identical to before (map-side WindowGroupLimit pruning and
    all)."""
    target = spark.sparkContext.defaultParallelism
    if _scan_partitions(spark, df) >= target:
        return df
    path = _TABLE_PATHS.get((spark.sparkContext.applicationId, id(df)))
    sizes = _data_file_sizes(path) if path is not None else None
    if sizes is not None:
        total = sum(sizes)
        if total < _FANOUT_MIN_BYTES:
            return df
        width = -(-total // _FANOUT_SPLIT_TARGET_BYTES)
        target = max(2, min(target, width))
    return df.repartition(target, *keys)


# --------------------------------------------------------------------- A7/A11
def q1_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped scan+agg (stats aggs A7/A11): the flagship relational
    query; Catalyst pushes the shipdate filter + 6-column pruning to parquet."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1997-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
                / F.count("l_quantity")
            ).alias("avg_qty"),
            F.count("*").alias("n_rows"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  COUNT(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# ------------------------------------------------------------------ J1/J2/J7
def region_revenue(spark, sf_dir):
    """Multi-way dim join chain (J1/J2) with broadcast dims (J7/S3)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


REGION_REVENUE_SQL = """
SELECT r_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------- J3-J5
def semi_join_high_value(spark, sf_dir):
    """Left-semi filter (J3/J4/J5: the reference's isin(unique()) pattern)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), _dec_sum("l_quantity", "sum_qty"))
    )


SEMI_JOIN_SQL = """
SELECT l_returnflag, COUNT(*) AS n_rows,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)
GROUP BY l_returnflag
"""


def anti_join_unfilled(spark, sf_dir):
    """Left-anti (our resume work-remaining pattern, SURVEY §2.6)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


ANTI_JOIN_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


# ---------------------------------------------------------------- F12/W2/A8
def latest_event_per_user(spark, sf_dir):
    """Latest-entry-per-key ranking window (W2/A8/F12)."""
    e = _fan_out_for_window(spark, _t(spark, sf_dir, "events"), "user_id")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


LATEST_EVENT_SQL = """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ------------------------------------------------------------------------ W1
def topk_per_group(spark, sf_dir):
    """Top-k-per-group window (W1: the reference's np.argsort top-5 evidence,
    refs_html_to_evidences.py:195-197) with the same deterministic tie-break
    (value desc, position asc)."""
    li = _fan_out_for_window(spark, _t(spark, sf_dir, "lineitem"), "l_orderkey")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rank")
    )


TOPK_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, rank FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rank
  FROM lineitem
) WHERE rank <= 3
"""


# ------------------------------------------------------------------------ A3
def priority_max_flag(spark, sf_dir):
    """MALON-style priority-max agg (A3): any-R beats any-A beats N."""
    li = _t(spark, sf_dir, "lineitem")
    pri = (
        F.when(F.col("l_returnflag") == "R", 2)
        .when(F.col("l_returnflag") == "A", 1)
        .otherwise(0)
    )
    return (
        li.withColumn("pri", pri)
        .groupBy("l_orderkey")
        .agg(F.max("pri").alias("max_pri"))
        .withColumn(
            "order_flag",
            F.when(F.col("max_pri") == 2, "R")
            .when(F.col("max_pri") == 1, "A")
            .otherwise("N"),
        )
    )


PRIORITY_MAX_SQL = """
SELECT l_orderkey, max_pri,
  CASE WHEN max_pri = 2 THEN 'R' WHEN max_pri = 1 THEN 'A' ELSE 'N' END AS order_flag
FROM (
  SELECT l_orderkey,
    MAX(CASE WHEN l_returnflag = 'R' THEN 2 WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS max_pri
  FROM lineitem GROUP BY l_orderkey
)
"""


# ------------------------------------------------------------------------ A4
def modal_event_type(spark, sf_dir):
    """Mode with pandas-.mode()[0] semantics (A4): count desc, label asc."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
    )


MODAL_SQL = """
SELECT user_id, event_type AS modal_type, n FROM (
  SELECT user_id, event_type, n,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
  FROM (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
) WHERE rn = 1
"""


# ------------------------------------------------------------------------ A5
def best_per_class(spark, sf_dir):
    """Best-score-within-priority-class selection (A5: functions.py:160-175):
    prefer purchase > view > rest, then max value, deterministic tie-break."""
    e = _fan_out_for_window(spark, _t(spark, sf_dir, "events"), "user_id")
    pri = (
        F.when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("pri"), F.desc("value"), F.asc("event_id")
    )
    return (
        e.withColumn("pri", pri)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


BEST_PER_CLASS_SQL = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
      CASE WHEN event_type = 'purchase' THEN 2 WHEN event_type = 'view' THEN 1 ELSE 0 END DESC,
      value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


# ------------------------------------------------------------------- A6/A10
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def pivot_event_counts(spark, sf_dir):
    """Pivot-count + derived score (A6/A10: value_counts unstack + proveScore
    arithmetic, functions.py:383-398, 638-641).

    r6 (guide §2.3/§2.4): single conditional aggregation — one scan, one
    exchange, map-side partial aggregation. The previous pivot().count() +
    separate totals aggregate + equi-join computed the same conditional
    counts with a second scan/aggregation and a join; COUNT(*) rides the
    same groupBy, so the score denominator is still the full row count
    (unlisted event types included, never divide-by-zero)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            *[
                F.count(F.when(F.col("event_type") == t, True)).alias(f"n_{t}")
                for t in EVENT_TYPES
            ],
            F.count("*").alias("_n_total"),
        )
        .withColumn(
            "engagement_score",
            (F.col("n_purchase") - F.col("n_error")) / F.col("_n_total"),
        )
        .drop("_n_total")
    )


PIVOT_SQL = """
SELECT user_id,
  COUNT(*) FILTER (event_type = 'click') AS n_click,
  COUNT(*) FILTER (event_type = 'view') AS n_view,
  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
  COUNT(*) FILTER (event_type = 'signup') AS n_signup,
  COUNT(*) FILTER (event_type = 'error') AS n_error,
  CAST(COUNT(*) FILTER (event_type = 'purchase') - COUNT(*) FILTER (event_type = 'error') AS DOUBLE)
    / COUNT(*) AS engagement_score
FROM events GROUP BY user_id
"""


# ------------------------------------------------------------------------ A1
def single_occurrence_users(spark, sf_dir):
    """count==1 filter + semi join back (A1: single-URL references,
    wikidata_parser.py:411-414)."""
    e = _t(spark, sf_dir, "events")
    singles = e.groupBy("user_id").count().where(F.col("count") == 1).select("user_id")
    return e.join(singles, "user_id", "left_semi").select(
        "user_id", "event_id", "event_type"
    )


SINGLE_OCC_SQL = """
SELECT user_id, event_id, event_type FROM events
WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) = 1)
"""


# ------------------------------------------------------------------------ A9
def top_sources_by_docs(spark, sf_dir):
    """Group + collect + top-N (A9: functions.py:630-636); the collected list
    is emitted as a deterministic sorted CSV so engines hash identically."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("lang"))), ","
            ).alias("langs"),
        )
        .orderBy(F.desc("n_docs"), F.asc("source"))
        .limit(5)
    )


TOP_SOURCES_SQL = """
SELECT source, COUNT(*) AS n_docs,
  STRING_AGG(DISTINCT lang, ',' ORDER BY lang) AS langs
FROM documents GROUP BY source
ORDER BY n_docs DESC, source ASC LIMIT 5
"""


# ----------------------------------------------------------------------- A11
def usage_stats(spark, sf_dir):
    """count/min/max/avg per type (A11: info.py:101-113)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count("value")
        ).alias("avg_value"),
    )


USAGE_SQL = """
SELECT event_type, COUNT(*) AS n, MIN(value) AS min_value, MAX(value) AS max_value,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events GROUP BY event_type
"""


# ------------------------------------------------------------------- O4 + O2
def union_dedup_parts(spark, sf_dir):
    """unionByName + distinct (O4) over two filtered scans."""
    p = _t(spark, sf_dir, "part")
    a = p.where(F.col("p_size") > 40).select("p_brand", "p_type")
    b = p.where(F.col("p_retailprice") > 1500).select("p_brand", "p_type")
    return a.unionByName(b).distinct()


UNION_SQL = """
SELECT DISTINCT p_brand, p_type FROM (
  SELECT p_brand, p_type FROM part WHERE p_size > 40
  UNION ALL
  SELECT p_brand, p_type FROM part WHERE p_retailprice > 1500
)
"""


# ----------------------------------------------------------- window frames
def running_user_value(spark, sf_dir):
    """Running-sum frame window (SURVEY §2.5 frame note) — exact decimals."""
    e = _fan_out_for_window(spark, _t(spark, sf_dir, "events"), "user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


RUNNING_SQL = """
SELECT user_id, event_id,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
"""


# ----------------------------------------------------------- sessionization
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (lag + cumulative sum of gap>30min flags)."""
    e = _fan_out_for_window(spark, _t(spark, sf_dir, "events"), "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # MICROSECOND precision on both sides: casting to whole seconds truncates,
    # so a 1800.05s gap read as 1800 stays in-session while the fractional
    # oracle splits it (reproduced divergence for gaps in (1800, 1801))
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch_us - F.lag(epoch_us, 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("user_id", "event_id", "session_id")
    )


SESSIONIZE_SQL = """
SELECT user_id, event_id,
  -- DuckDB SUM(BIGINT) is HUGEINT -> pandas float64; CAST keeps int64 parity
  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM (
  SELECT user_id, event_id, ts,
    CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         IS NULL THEN 1
         WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000 THEN 1
         ELSE 0 END AS new_sess
  FROM events
)
"""


# ------------------------------------------------------------------ F9/C18
def json_extract_props(spark, sf_dir):
    """Stringified-payload parse (F9: the reference's eval'd datavalue dicts →
    from_json/get_json_object, never eval)."""
    e = _t(spark, sf_dir, "events")
    # r6: 1:1 explode(array(..)) barrier — predicate pushdown otherwise
    # inlines the JSON parse into the filter AND keeps it in the project,
    # parsing every row's payload twice (conjunct-level evaluation does not
    # subexpression-eliminate; measured on the claim-regex twin of this
    # pattern in stages.detect_claims). One parse per row, same rows out.
    return e.select(
        "event_id",
        F.explode(
            F.array(F.get_json_object("props", "$.k").cast("int"))
        ).alias("k"),
    ).where(F.col("k") > 50)


JSON_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
"""


# ------------------------------------------------------------------ C10/C13
def timestamp_functions(spark, sf_dir):
    """Timestamp parse/format + hour extraction (C10/C13)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.hour("ts").alias("event_hour"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.year("ts").alias("event_year"),
    )


TS_SQL = """
SELECT event_id, EXTRACT(hour FROM ts) AS event_hour,
  STRFTIME(ts, '%Y-%m-%d') AS event_date,
  EXTRACT(year FROM ts) AS event_year
FROM events
"""


# --------------------------------------------------------------------- C14
def coalesce_preference_chain(spark, sf_dir):
    """Label-language preference chain (C14: utils/wikidata_utils.py:65-83):
    first non-null among a priority list."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.coalesce(
            F.when(F.col("lang") == "en", F.col("lang")),
            F.when(F.col("lang") == "fr", F.col("lang")),
            F.when(F.col("lang") == "es", F.col("lang")),
            F.lit("other"),
        ).alias("lang_pref"),
    )


COALESCE_SQL = """
SELECT doc_id,
  COALESCE(CASE WHEN lang = 'en' THEN lang END,
           CASE WHEN lang = 'fr' THEN lang END,
           CASE WHEN lang = 'es' THEN lang END,
           'other') AS lang_pref
FROM documents
"""


# ----------------------------------------------------------------- grouping
def rollup_order_stats(spark, sf_dir):
    """ROLLUP aggregation (beyond the reference — warehouse read path)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum("o_totalprice", "sum_price"),
            # GROUPING() discriminates subtotal rows from genuine NULLs
            F.grouping("o_orderstatus").alias("_gs"),
            F.grouping("o_orderpriority").alias("_gp"),
        )
        .select(
            F.when(F.col("_gs") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            F.when(F.col("_gp") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


ROLLUP_SQL = """
SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# -------------------------------------------------------------- skew helpers
def salted_event_counts(spark, sf_dir):
    """Salted two-phase aggregation (BASELINE skew requirement): result must
    equal the plain groupBy — the oracle IS the plain SQL aggregate."""
    e = _t(spark, sf_dir, "events")
    return salted_agg(
        e,
        key="event_type",
        aggs=[("count", "*", "n"), ("sum", "user_id", "sum_users")],
        salt_from=["event_id"],
    )


SALTED_AGG_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events GROUP BY event_type
"""


# -------------------------------------------------- TPC-H classics (Q3/10/18)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + filtered date band + top-10 revenue.
    Catalyst broadcast-joins customer (small) and pushes both date filters
    to the scans."""
    cutoff = "1998-03-15"
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer (+nation), top 20."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_acctbal,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING-filtered subaggregate (large-quantity orders)
    semi-joined back to the fact — aggregate-then-join, never join-then-
    re-aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum("l_quantity", "total_qty"))
        .where(F.col("total_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


RELATIONAL_QUERIES: dict[str, tuple] = {
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "region_revenue": (region_revenue, REGION_REVENUE_SQL),
    "semi_join_high_value": (semi_join_high_value, SEMI_JOIN_SQL),
    "anti_join_unfilled": (anti_join_unfilled, ANTI_JOIN_SQL),
    "latest_event_per_user": (latest_event_per_user, LATEST_EVENT_SQL),
    "topk_per_group": (topk_per_group, TOPK_SQL),
    "priority_max_flag": (priority_max_flag, PRIORITY_MAX_SQL),
    "modal_event_type": (modal_event_type, MODAL_SQL),
    "best_per_class": (best_per_class, BEST_PER_CLASS_SQL),
    "pivot_event_counts": (pivot_event_counts, PIVOT_SQL),
    "single_occurrence_users": (single_occurrence_users, SINGLE_OCC_SQL),
    "top_sources_by_docs": (top_sources_by_docs, TOP_SOURCES_SQL),
    "usage_stats": (usage_stats, USAGE_SQL),
    "union_dedup_parts": (union_dedup_parts, UNION_SQL),
    "running_user_value": (running_user_value, RUNNING_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    "json_extract_props": (json_extract_props, JSON_SQL),
    "timestamp_functions": (timestamp_functions, TS_SQL),
    "coalesce_preference_chain": (coalesce_preference_chain, COALESCE_SQL),
    "rollup_order_stats": (rollup_order_stats, ROLLUP_SQL),
    "salted_event_counts": (salted_event_counts, SALTED_AGG_SQL),
}
