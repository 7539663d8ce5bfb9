"""Advanced composed operators: as-of join, distinct aggregates, array-HOF
sliding windows — operators Spark lacks natively, expressed as compositions
per the preference order (built-in ops > pandas UDF > mapPartitions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# shared table loader (single source: one place to change if the
# path layout or a catalog integration ever changes)
from .relational import _t  # noqa: E402
from .textops import QUALITY_SQL  # single source of the quality-metric twin


def asof_join_latest_order(spark, sf_dir):
    """As-of join: for each event, the customer's latest order at or before
    the event time. Spark has no native ASOF JOIN — composed as bounded
    equi-join + ranking window (the broadcast/bucket-friendly formulation;
    per-group pd.merge_asof in applyInPandas is the fallback for dense
    right sides)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "custkey", (F.col("user_id") % 150 + 1).cast("long")
    )
    o = _t(spark, sf_dir, "orders")
    joined = e.join(
        o,
        (e.custkey == o.o_custkey) & (o.o_orderdate <= e.ts),
        "inner",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


ASOF_SQL = """
SELECT event_id, custkey, o_orderkey, o_orderdate, o_totalprice FROM (
  SELECT e.event_id, e.custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM (SELECT event_id, ts, user_id % 150 + 1 AS custkey FROM events) e
  JOIN orders o ON e.custkey = o.o_custkey AND o.o_orderdate <= e.ts
) WHERE rn = 1
"""


def distinct_user_stats(spark, sf_dir):
    """Exact distinct aggregation (count-distinct expands to a two-phase
    aggregate; the approx_count_distinct variant is the scale path)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def slide2_word_pairs(spark, sf_dir):
    """C3 sliding window as a pure array HOF (transform+sequence) — zero
    shuffles, whole-stage-codegen'd; the oracle builds the same pairs with a
    lead window, proving the HOF formulation equivalent."""
    d = _t(spark, sf_dir, "documents")
    # split() bound once per row (see textops._shingles: inlining it into
    # the lambda re-splits per element, O(words^2))
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    words = F.col("words")
    # guard: sequence(1, 0) DESCENDS ([1, 0]) — a 1-word doc would index out
    # of bounds without the size>=2 branch
    pairs = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return w.select(
        "doc_id", F.posexplode(pairs).alias("p0", "pair")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "pair")


SLIDE2_SQL = """
WITH words AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
         UNNEST(generate_series(1, len(string_split(text, ' ')))) AS p
  FROM documents
)
SELECT doc_id, p, pair FROM (
  SELECT doc_id, p,
    w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY p) AS pair
  FROM words
) WHERE pair IS NOT NULL
"""


_BAND_US = 10_000_000  # 10-second co-occurrence band


def range_join_cooccur(spark, sf_dir):
    """Banded interval self-join with NO equi key: pairs of events within
    10 s of each other. Scale path: bucket each timestamp to band-width
    buckets, explode one side to its 3 candidate buckets, equi-join on the
    bucket, exact band filter after — turns an O(n^2) theta join into a
    shuffle-friendly equi join. Each qualifying pair matches exactly one
    candidate bucket, so no dedup is needed."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        # ts is TIMESTAMP_NTZ in the parquet; session TZ is UTC so the cast
        # is a pure reinterpretation
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
    )
    a = e.select(
        F.col("event_id").alias("event_a"),
        F.col("us").alias("us_a"),
        # FLOOR, not cast-truncation: trunc rounds toward zero, collapsing
        # buckets -1 and 0 for pre-1970 timestamps and breaking the
        # 3-candidate-bucket coverage proof around zero
        F.explode(
            F.array(
                F.floor(F.col("us") / _BAND_US) - 1,
                F.floor(F.col("us") / _BAND_US),
                F.floor(F.col("us") / _BAND_US) + 1,
            )
        ).alias("bucket"),
    )
    b = e.select(
        F.col("event_id").alias("event_b"),
        F.col("us").alias("us_b"),
        F.floor(F.col("us") / _BAND_US).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .where(
            (F.col("event_a") < F.col("event_b"))
            & (F.abs(F.col("us_b") - F.col("us_a")) <= _BAND_US)
        )
        .select("event_a", "event_b", (F.col("us_b") - F.col("us_a")).alias("gap_us"))
    )


RANGE_JOIN_SQL = f"""
SELECT a.event_id AS event_a, b.event_id AS event_b,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.event_id < b.event_id
 AND ABS(epoch_us(b.ts) - epoch_us(a.ts)) <= {_BAND_US}
"""


def cube_event_stats(spark, sf_dir):
    """CUBE aggregation over (event_type, day-of-month): all 4 grouping-set
    combinations in one pass (partial aggregation per set, single shuffle)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.dayofmonth("ts").alias("dom"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    return (
        e.cube("event_type", "dom")
        .agg(
            F.count("*").alias("n"),
            # decimal-exact sum, then one cast to DOUBLE (float discipline:
            # a DECIMAL output surfaces as pandas object-of-Decimal and
            # hash-mismatches the oracle's float64)
            F.sum("v").cast("double").alias("sum_value"),
            # GROUPING() discriminates subtotal rows from genuine NULL data
            # values (COALESCE would conflate them into duplicate 'ALL' keys)
            F.grouping("event_type").alias("_gt"),
            F.grouping("dom").alias("_gd"),
        )
        .select(
            F.when(F.col("_gt") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.when(F.col("_gd") == 1, F.lit("ALL"))
            .otherwise(F.col("dom").cast("string"))
            .alias("dom"),
            "n",
            "sum_value",
        )
    )


CUBE_SQL = """
SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
       CASE WHEN GROUPING(dom) = 1 THEN 'ALL' ELSE CAST(dom AS VARCHAR) END AS dom,
       COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_value
FROM (SELECT event_type, EXTRACT(day FROM ts) AS dom,
             CAST(value AS DECIMAL(18,6)) AS v FROM events)
GROUP BY CUBE(event_type, dom)
"""


def grouping_sets_event_stats(spark, sf_dir):
    """Explicit GROUPING SETS (the third grouping-set form next to rollup/
    cube): per-(type,role-of-day) and per-type-only aggregates in one pass,
    via SQL on a temp view (the DataFrame API has no grouping-sets method)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.dayofmonth("ts").alias("dom"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    e.createOrReplaceTempView("gs_events")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
               CASE WHEN GROUPING(dom) = 1 THEN 'ALL' ELSE CAST(dom AS STRING) END AS dom,
               COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_value
        FROM gs_events
        GROUP BY GROUPING SETS ((event_type, dom), (event_type), ())
        """
    )


GROUPING_SETS_SQL = """
SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
       CASE WHEN GROUPING(dom) = 1 THEN 'ALL' ELSE CAST(dom AS VARCHAR) END AS dom,
       COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_value
FROM (SELECT event_type, EXTRACT(day FROM ts) AS dom,
             CAST(value AS DECIMAL(18,6)) AS v FROM events)
GROUP BY GROUPING SETS ((event_type, dom), (event_type), ())
"""


def percentile_event_values(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    ANSI percentile_cont; the approx_percentile sketch is the 100 TB path)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


PERCENTILE_SQL = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       MIN(value) AS vmin, MAX(value) AS vmax
FROM events GROUP BY event_type
"""


def moving_avg_user_value(spark, sf_dir):
    """Window FRAME spec: 3-row moving average + previous value per user in
    time order (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-2, 0)
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(frame).alias("ma3"),
        F.lag("value", 1).over(w).alias("prev_value"),
    )


MOVING_AVG_SQL = """
SELECT user_id, event_id, value,
  AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3,
  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
FROM events
"""


def url_host_extract(spark, sf_dir):
    """C9 URL host extraction (reference: functions.py:650-652 domain
    grouping): synthesize a URL per document, parse_url(HOST), count per
    host. parse_url is JVM-builtin; the oracle uses the equivalent regex."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/d/"),
        F.col("doc_id").cast("string"),
    )
    return (
        d.select(F.parse_url(url, F.lit("HOST")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"))
    )


URL_HOST_SQL = """
SELECT regexp_extract('https://' || source || '.example.org/d/' || CAST(doc_id AS VARCHAR),
                      'https?://([^/]+)', 1) AS host,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


def hll_user_counts(spark, sf_dir):
    """Approximate distinct users per event type via the native HLL sketch
    (Apache DataSketches binding, Spark 3.5+; lgConfigK=14 → ~0.5% relative
    std error). Sketches — not exact distinct — are THE 100 TB cardinality
    path: partial sketches are mergeable, so per-partition/per-day sketches
    combine associatively (hll_union_agg) without ever re-shuffling raw
    keys, and the shuffle payload is one 16 KB sketch per group instead of
    every distinct key. No DuckDB oracle (sketch internals are
    engine-specific); pinned in pytest against exact counts within ±2%
    plus an exact lower-bound/cheap upper-bound sandwich."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(14))
            ).alias("approx_users"),
            F.count("*").alias("n_events"),
        )
        .select("event_type", "approx_users", "n_events")
    )


def approx_value_quantiles(spark, sf_dir, accuracy: int = 10_000):
    """Approximate p50/p90/p99 of event value per type via percentile_approx
    (Greenwald-Khanna sketch). The 100 TB quantile path for the same reason
    as [hll_user_counts]: GK summaries are mergeable, so the shuffle moves
    one bounded summary per (partition, group) instead of sorting the raw
    values — exact percentile_cont (see `percentile_event_values`) needs a
    full per-group sort that a hot group turns into a single-task straggler.
    Guarantee is on RANK, not value: the returned value's rank is within
    n/accuracy of the target rank. No DuckDB oracle (sketch internals are
    engine-specific); the rank guarantee is pinned in pytest."""
    e = _t(spark, sf_dir, "events")
    pct = F.percentile_approx(
        F.col("value"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), accuracy
    )
    return (
        e.groupBy("event_type")
        .agg(pct.alias("p"), F.count("value").alias("n_values"))
        .select(
            "event_type",
            F.col("p")[0].alias("p50"),
            F.col("p")[1].alias("p90"),
            F.col("p")[2].alias("p99"),
            "n_values",
        )
    )


def lateral_top_orders(spark, sf_dir):
    """Correlated lateral join (Spark 4 `DataFrame.lateralJoin`): for each
    customer, the top-2 orders by price from a correlated subquery — the
    SQL `LATERAL` / `CROSS APPLY` operator family, expressed directly
    instead of via the window-function rewrite. Catalyst decorrelates the
    per-row subquery (limit → window under the hood), so the physical plan
    is a shuffle-joined ranked window, NOT a per-customer re-execution —
    which is exactly why declaring lateral intent and letting the optimizer
    rewrite beats hand-running the subquery per key. Oracle: DuckDB's
    native LATERAL."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders")
    top2 = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(top2).select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


LATERAL_SQL = """
SELECT c.c_custkey, c.c_name, u.o_orderkey, u.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) u
"""


def fuzzy_part_matches(spark, sf_dir):
    """Fuzzy entity resolution — the approximate-string-match step a KG /
    catalog builder runs before canonicalization (the exact-key analog is
    the connected-components canonicalizer, pipeline/canonicalize.py): for
    each part, its best near-duplicate name (min Levenshtein, then smallest
    key) among candidates sharing a blocking key.

    Scale shape: NEVER all-pairs — candidates are generated inside
    first-token blocks (standard ER blocking; at 100 TB the blocking key is
    whatever bounds block size: token + length bucket, soundex, minhash
    band), with the |len(a)-len(b)| <= threshold prefilter applied IN the
    join condition — a true Levenshtein lower bound, so it is lossless for
    the lev <= 3 predicate while pruning before the O(n*m) edit-distance
    kernel runs. Best-match selection is one row_number window on the same
    p_partkey the pair join already hashes on. Levenshtein itself is the
    JVM built-in (whole-stage codegen), identical algebra in DuckDB."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.substring_index("p_name", " ", 1).alias("blk"),
        F.length("p_name").alias("ln"),
    )
    a, b = p.alias("a"), p.alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_partkey") != F.col("b.p_partkey"))
        & (F.abs(F.col("a.ln") - F.col("b.ln")) <= F.lit(3)),
    ).select(
        F.col("a.p_partkey").alias("p_partkey"),
        F.col("a.p_name").alias("p_name"),
        F.col("b.p_partkey").alias("match_key"),
        F.col("b.p_name").alias("match_name"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        .cast("long")
        .alias("lev"),
    )
    w = Window.partitionBy("p_partkey").orderBy("lev", "match_key")
    return (
        cand.where(F.col("lev") <= 3)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


FUZZY_SQL = """
WITH p AS (
  SELECT p_partkey, p_name,
         split_part(p_name, ' ', 1) AS blk,
         length(p_name) AS ln
  FROM part
), cand AS (
  SELECT a.p_partkey, a.p_name,
         b.p_partkey AS match_key, b.p_name AS match_name,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
  FROM p a JOIN p b
    ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
   AND abs(a.ln - b.ln) <= 3
)
SELECT p_partkey, p_name, match_key, match_name, lev
FROM (
  SELECT *, row_number() OVER (PARTITION BY p_partkey
                               ORDER BY lev, match_key) AS rn
  FROM cand WHERE lev <= 3
) WHERE rn = 1
"""


def scd2_user_state(spark, sf_dir):
    """Slowly-changing-dimension (type 2) history build: collapse each
    user's event stream into state-validity intervals — a row per state
    CHANGE carrying [valid_from, valid_to) and an is_current flag. This is
    the warehouse dimension-history shape (MERGE-fed SCD2 in the Iceberg
    sink's world) and the KG temporal-fact analog (statement validity).

    Scale shape: one shuffle on user_id; the change-detection lag, the
    interval lead, and row ordering all share the (user_id × ts, event_id)
    sort, so Catalyst evaluates them in a single Window over one exchange —
    no per-change joins, no driver loop. Deterministic: ties broken on
    event_id."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "ts", "event_id", F.col("event_type").alias("state"))
        .withColumn("prev_state", F.lag("state").over(w))
        .where(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
    )
    return changes.select(
        "user_id",
        F.col("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type AS state,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_state
  FROM events
), changes AS (
  SELECT user_id, state, ts, event_id FROM ordered
  WHERE prev_state IS NULL OR state <> prev_state
)
SELECT user_id, state, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM changes
"""


def point_in_time_state(spark, sf_dir):
    """Point-in-time-correct state lookup — the feature-store op that
    consumes the SCD2 history [scd2_user_state] BUILDS (build the validity
    intervals, then join facts to the state that was ACTIVE at fact time —
    the join discipline that prevents label leakage in training-data
    assembly): each purchase event gets the user's state interval
    containing its timestamp, where the state history is built from the
    NON-purchase stream (so probe and dimension are genuinely different
    relations) — state, interval start, and the state's age at purchase
    time. Purchases before any state (no containing interval) keep a NULL
    state via the left join, both engines.

    Scale shape: ONE equi-join on user_id (the SCD2 build already shuffles
    on the same key — one partitioning serves build and probe) with the
    half-open interval containment as the join residual; per-user interval
    lists are change-bounded, never history-scale fan-out. Integer epoch
    arithmetic for the age; timestamps compare exactly."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = (
        e.where(F.col("event_type") != "purchase")
        .select(
            "user_id", "ts", "event_id", F.col("event_type").alias("state")
        )
        .withColumn("prev_state", F.lag("state").over(w))
        .where(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select(
            "user_id",
            "state",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    probes = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    j = probes.join(
        base,
        (probes.user_id == base.user_id)
        & (F.col("valid_from") <= F.col("pts"))
        & (F.col("valid_to").isNull() | (F.col("pts") < F.col("valid_to"))),
        "left",
    )
    return j.select(
        "event_id",
        probes.user_id.alias("user_id"),
        F.col("state").alias("state_at_purchase"),
        "valid_from",
        (
            F.floor(F.unix_timestamp(F.col("pts").cast("timestamp")))
            - F.floor(F.unix_timestamp(F.col("valid_from").cast("timestamp")))
        )
        .cast("long")
        .alias("state_age_s"),
    )


PIT_SQL = """
WITH pit_o AS (
  SELECT user_id, ts, event_id, event_type AS state,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_state
  FROM events WHERE event_type <> 'purchase'),
pit_b AS (
  SELECT user_id, state, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM pit_o
  WHERE prev_state IS NULL OR state <> prev_state),
pit_p AS (
  SELECT event_id, user_id, ts AS pts FROM events
  WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id,
       b.state AS state_at_purchase,
       b.valid_from,
       CAST(FLOOR(epoch(p.pts)) - FLOOR(epoch(b.valid_from)) AS BIGINT)
         AS state_age_s
FROM pit_p p
LEFT JOIN pit_b b
  ON b.user_id = p.user_id
 AND b.valid_from <= p.pts
 AND (b.valid_to IS NULL OR p.pts < b.valid_to)
"""


def kll_sketch_rollup(spark, sf_dir):
    """Two-level mergeable-sketch rollup (KLL quantile sketches): build one
    sketch per (event_type, day), then MERGE the per-day sketches into
    per-type quantiles via `kll_sketch_merge_double` — without ever
    re-touching the raw values. This is the piece [approx_value_quantiles]
    (one-shot GK) doesn't show: at 100 TB the daily sketch table IS the
    materialized aggregate — a few-KB binary column per group-day that
    answers any later quantile question over any date range by merging, so
    backfills and rolling windows never rescan history. KLL is a RANDOMIZED
    algorithm (compaction sampling), so no cross-run bit-determinism is
    claimed; the rank guarantee (default k=200 → ~1.65% normalized rank
    error) is what pytest pins, like the HLL/GK rows."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.kll_sketch_agg_double("value").alias("sk"),
        F.count("value").alias("n"),
    )
    # kll_sketch_merge_double is a BINARY scalar merge (no aggregate form is
    # exposed), so the per-group merge is an array-HOF fold over the
    # collected day sketches: first sketch seeds the accumulator, the rest
    # fold in. collect_list here is day-cardinality per group (a year of
    # dailies ≈ 365 × few KB — dimension-sized by construction; a deeper
    # hierarchy would merge week→month→year the same way).
    merged = daily.groupBy("event_type").agg(
        F.collect_list("sk").alias("sks"),
        F.sum("n").alias("n_values"),
        F.count("*").alias("n_days"),
    )
    sk = F.aggregate(
        F.slice(F.col("sks"), 2, F.size("sks") - 1),
        F.element_at(F.col("sks"), 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    return merged.select(
        "event_type",
        F.kll_sketch_get_quantile_double(sk, F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double(sk, F.lit(0.9)).alias("p90"),
        "n_values",
        "n_days",
    )


# ----------------------------------------------------------- CDC merge-apply
def cdc_apply_changes(spark, sf_dir):
    """MERGE INTO twin: compact a keyed changelog and apply it to a
    snapshot — the Debezium/Iceberg-upsert maintenance step. The changelog
    is the events stream read as (key, seq, op, value): signup→I, error→D,
    everything else→U, sequenced by the (ts, event_id) total order; the
    snapshot is a deterministic customer subset (c_custkey % 3 <> 0, so the
    changelog exercises every MERGE lane: matched-update, matched-delete,
    unmatched-insert, unmatched-delete-noop, untouched carry-over).

    Semantics (last-writer-wins): per key, only the final change matters —
    D removes the row (matched or not), I/U upserts balance to the change's
    value, keys without changes carry the snapshot row through. Inserted
    keys take the 'cdc-insert' placeholder name.

    Scale shape: compaction is ONE key-partitioned ranking window (the
    standard changelog-compaction shuffle — no driver state); apply is ONE
    full-outer join co-partitioned on the same key, so AQE reuses/aligns
    the exchanges and a skewed hot key splits under the skew-join rule.
    Values are raw input doubles carried through untouched — no float
    arithmetic, bit-identical across engines. Reference anchor: the
    reference recomputes its Mongo status collections in place
    (ProVe_main_service.py status upserts); this is the declarative,
    engine-side form of that maintenance."""
    snap = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 3 != 0)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("balance"),
        )
    )
    ch = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts"),
        F.col("event_id"),
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("ts"), F.desc("event_id"))
    wcnt = Window.partitionBy("key")
    last = (
        ch.withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count("*").over(wcnt))
        .where(F.col("rn") == 1)
        .select("key", "op", "value", "n_changes")
    )
    merged = snap.join(last, "key", "full_outer")
    return (
        merged.where(F.coalesce(F.col("op"), F.lit("K")) != "D")
        # unmatched-delete rows (no snapshot, last op D) are dropped by the
        # same predicate; unmatched inserts need a present snapshot OR an
        # upsert op — a key only in the changelog always has op set
        .select(
            "key",
            F.coalesce("name", F.lit("cdc-insert")).alias("name"),
            F.coalesce("value", "balance").alias("balance"),
            F.coalesce("op", F.lit("K")).alias("last_op"),
            F.coalesce("n_changes", F.lit(0)).cast("long").alias("n_changes"),
        )
    )


CDC_SQL = """
WITH snap AS (
  SELECT c_custkey AS key, c_name AS name, c_acctbal AS balance
  FROM customer WHERE c_custkey % 3 <> 0
),
ch AS (
  SELECT user_id AS key, ts, event_id,
         CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
              ELSE 'U' END AS op,
         value
  FROM events
),
last AS (
  SELECT key, op, value, n_changes FROM (
    SELECT key, op, value,
           ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY key) AS n_changes
    FROM ch)
  WHERE rn = 1
)
SELECT COALESCE(s.key, l.key) AS key,
       COALESCE(s.name, 'cdc-insert') AS name,
       COALESCE(l.value, s.balance) AS balance,
       COALESCE(l.op, 'K') AS last_op,
       CAST(COALESCE(l.n_changes, 0) AS BIGINT) AS n_changes
FROM snap s FULL OUTER JOIN last l ON s.key = l.key
WHERE COALESCE(l.op, 'K') <> 'D'
"""


# Funnel step definitions: strictly-ordered event sequence per user. A step
# counts only if it happens strictly AFTER the user's earliest completion of
# the previous step AND within the conversion window (the standard
# product-analytics funnel semantics; the window also makes every funnel
# stage live on the synthetic stream — 9/3/3 at sf0.001).
FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_HOURS = 12


def funnel_steps(spark, sf_dir):
    """Ordered-sequence funnel analysis over the event stream: per user, the
    earliest time each step of view → click → purchase was completed IN
    ORDER (step k counts only strictly after the user's earliest step k-1
    and within the FUNNEL_WINDOW_HOURS conversion window), plus the
    furthest stage reached — the sequential-pattern operator none
    of the set-shaped aggregations express (a user with purchase BEFORE
    view must not convert).

    Scale shape: each step is a filtered map-side-combinable min-agg joined
    back on user_id — every join and agg keys on the SAME column, so one
    hash partitioning serves the whole chain (no re-shuffle between steps;
    AQE reuses the exchange); step relations shrink monotonically (step k
    rows ⊆ step k-1 users). Timestamps only — no float arithmetic."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (
                F.col("ts")
                <= F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (
                F.col("ts")
                <= F.col("t2") + F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            F.when(F.col("t3").isNotNull(), F.lit(3))
            .when(F.col("t2").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("stage_reached"),
        )
    )


FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
  JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
  JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id)
SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 ELSE 1 END AS BIGINT) AS stage_reached
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id
"""


def cumulative_unique_users(spark, sf_dir):
    """Running count of DISTINCT users ever seen, by day — the growth-curve
    query whose naive form (COUNT(DISTINCT) OVER a running frame) cannot
    partial-aggregate at all. Re-expressed via the scale identity:
    attribute each user to their FIRST-seen day (one combinable min-agg),
    count first-occurrences per day, prefix-sum those counts — every stage
    is map-side combinable and the only window runs over the DAY dimension
    (time-bounded, not corpus-bounded). Daily active counts ride along for
    the new-vs-returning contrast. Integer/timestamp only."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    )
    first = e.groupBy("user_id").agg(F.min("d").alias("fd"))
    newd = first.groupBy(F.col("fd").alias("d")).agg(
        F.count("*").alias("n_new")
    )
    act = e.groupBy("d").agg(F.countDistinct("user_id").alias("n_active"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        act.join(newd, "d", "left")
        .select(
            F.col("d").alias("day"),
            F.col("n_active").cast("long").alias("n_active"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        .withColumn(
            "cum_users", F.sum("n_new").over(w).cast("long")
        )
    )


CUM_UNIQUE_SQL = """
WITH e AS (SELECT user_id, date_trunc('day', ts) AS d FROM events),
fst AS (SELECT user_id, MIN(d) AS fd FROM e GROUP BY 1),
newd AS (SELECT fd AS d, COUNT(*) AS n_new FROM fst GROUP BY 1),
act AS (SELECT d, COUNT(DISTINCT user_id) AS n_active FROM e GROUP BY 1)
SELECT a.d AS day,
       CAST(a.n_active AS BIGINT) AS n_active,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (
         ORDER BY a.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
FROM act a LEFT JOIN newd n ON n.d = a.d
"""


def unpivot_quality_metrics(spark, sf_dir):
    """Wide→long reshape via the native DataFrame.unpivot (Spark 4 melt
    surface; SQL UNPIVOT twin in DuckDB — both engines' first-class
    relational unpivot operators, not a hand-rolled UNION ALL): the per-doc
    quality metrics melted to (doc_id, metric, value) — the long form a
    feature store / metrics warehouse ingests.

    Scale shape: unpivot is a map-only expand (k output rows per input row,
    k = 3 here) — zero exchanges; value columns pre-cast to one type (the
    operator requires it) so the long column is all-BIGINT."""
    from .textops import quality_scores

    q = quality_scores(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_alpha").cast("long").alias("n_alpha"),
    )
    return q.unpivot(
        "doc_id", ["n_chars", "n_words", "n_alpha"], "metric", "value"
    )


UNPIVOT_SQL = f"""
UNPIVOT (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(n_words AS BIGINT) AS n_words,
         CAST(n_alpha AS BIGINT) AS n_alpha
  FROM ({QUALITY_SQL}))
ON n_chars, n_words, n_alpha
INTO NAME metric VALUE value
"""


def retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-seen DAY (the
    cohort), then distinct-user counts per (cohort, days-since-cohort)
    cell plus the retention rate vs the cohort's own size — the standard
    product-analytics retention triangle.

    Scale shape: first-seen = one combinable min-agg; the cohort join keys
    on user_id (same key as the agg — one partitioning serves both); the
    cell rollup is a combinable count-distinct on a (day, day)-bounded
    key space; cohort sizes ride back in via a broadcast-sized join (cohort
    count = days, a time dimension). day_offset in exact integer
    (epoch-second difference // 86400 — no calendar semantics to
    diverge cross-engine); rate = single IEEE division."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("s")
    )
    first = e.groupBy("user_id").agg(F.min("s").alias("fs"))
    joined = e.join(first, "user_id").select(
        "user_id",
        F.floor(F.col("fs") / 86400).cast("long").alias("cohort_day"),
        (
            F.floor(F.col("s") / 86400) - F.floor(F.col("fs") / 86400)
        ).cast("long").alias("day_offset"),
    )
    cells = joined.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    sizes = first.groupBy(
        F.floor(F.col("fs") / 86400).cast("long").alias("cohort_day")
    ).agg(F.count("*").cast("long").alias("cohort_size"))
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_users",
        "cohort_size",
        (F.col("n_users").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


RETENTION_SQL = """
WITH e AS (SELECT user_id, epoch(ts) AS s FROM events),
fst AS (SELECT user_id, MIN(s) AS fs FROM e GROUP BY 1),
j AS (
  SELECT e.user_id,
         CAST(FLOOR(f.fs / 86400) AS BIGINT) AS cohort_day,
         CAST(FLOOR(e.s / 86400) - FLOOR(f.fs / 86400) AS BIGINT)
           AS day_offset
  FROM e JOIN fst f ON f.user_id = e.user_id),
cells AS (
  SELECT cohort_day, day_offset,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM j GROUP BY 1, 2),
sizes AS (
  SELECT CAST(FLOOR(fs / 86400) AS BIGINT) AS cohort_day,
         CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM fst GROUP BY 1)
SELECT c.cohort_day, c.day_offset, c.n_users, s.cohort_size,
       CAST(c.n_users AS DOUBLE) / s.cohort_size AS retention
FROM cells c JOIN sizes s ON s.cohort_day = c.cohort_day
"""


# number of price-range buckets for the skyline prefix scan; a fixed small
# constant so the cross-bucket carry relation stays driver/broadcast-trivial
# at ANY corpus size (the per-bucket work is what scales out)
PARETO_BUCKETS = 64


def pareto_2d(df: DataFrame, min_col: str, max_col: str) -> DataFrame:
    """2-D skyline core: rows of `df` not dominated under (minimize
    `min_col`, maximize `max_col`); dominance = ≤ on min_col AND ≥ on
    max_col, strict in at least one. Same-pair ties are mutually
    non-dominating and all kept.

    Scale shape: the naive formulation is an all-pairs NOT EXISTS
    (quadratic — the DuckDB oracle uses it, correct at oracle scale only).
    Here the skyline is re-expressed as a distributed prefix-max
    staircase, everything bounded:
      1. group by min_col → per-value max of max_col (ONE combinable
         shuffle);
      2. deterministic width_bucket over a broadcast 1-row (min,max) range
         splits values into PARETO_BUCKETS ranges; per-bucket maxima form a
         ≤64-row relation whose strict prefix-max (the cross-bucket carry)
         is computed with a constant-size global window and broadcast back;
      3. within each bucket a PARTITIONED window takes the strict
         running max — so no window ever orders more than one bucket's
         share of DISTINCT values, and no stage is quadratic.
    A value group survives iff its max strictly exceeds every
    strictly-smaller group's max (carry ⊔ in-bucket prefix); the row-level
    frontier is the equi-join back on (min_col, max_col=gmax). No
    arithmetic anywhere — comparisons over raw input values, so output is
    trivially exact cross-engine."""
    x, y = F.col(min_col), F.col(max_col)
    lohi = df.agg(F.min(x).alias("lo"), F.max(x).alias("hi"))  # 1 row
    pb = df.join(F.broadcast(lohi)).withColumn(
        "bkt",
        F.when(F.col("lo") == F.col("hi"), F.lit(1)).otherwise(
            F.width_bucket(x, F.col("lo"), F.col("hi"), F.lit(PARETO_BUCKETS))
        ),
    )
    grp = pb.groupBy("bkt", min_col).agg(F.max(y).alias("gmax"))
    bmax = grp.groupBy("bkt").agg(F.max("gmax").alias("bmax"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    pre = bmax.withColumn("carry", F.max("bmax").over(wb)).select(
        "bkt", "carry"
    )
    wp = (
        Window.partitionBy("bkt")
        .orderBy(min_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = (
        grp.join(F.broadcast(pre), "bkt")
        .withColumn("wmax", F.max("gmax").over(wp))
        # greatest() skips NULLs; NULL best_below = nothing smaller exists
        .withColumn("best_below", F.greatest("wmax", "carry"))
        .where(
            F.col("best_below").isNull()
            | (F.col("gmax") > F.col("best_below"))
        )
        .select(F.col(min_col).alias("kx"), "gmax")
    )
    return pb.join(
        kept, (x == F.col("kx")) & (y == F.col("gmax"))
    ).select(*df.columns)


def pareto_frontier_parts(spark, sf_dir):
    """Skyline / Pareto-frontier query over `part`: the parts no other part
    dominates (dominance = cheaper-or-equal price AND larger-or-equal size,
    strict in at least one). The classic OLAP skyline operator (Börzsönyi
    et al., ICDE'01) — neither Spark nor the reference has it natively; see
    pareto_2d for the distributed staircase shape."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_2d(p, "p_retailprice", "p_size")


PARETO_SQL = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part u
  WHERE u.p_retailprice <= p.p_retailprice AND u.p_size >= p.p_size
    AND (u.p_retailprice < p.p_retailprice OR u.p_size > p.p_size))
"""


def gapfill_user_days(spark, sf_dir):
    """Time-series gap fill + forward fill (the timeseries-DB `time_bucket
    gapfill / locf` operator): per user, the observed per-day value total on
    a DENSE daily grid from the user's first to last active day — missing
    days materialized and carried forward from the most recent observed day
    (last-observation-carried-forward), with an is_observed flag separating
    real from filled cells.

    Scale shape: per-(user, day) totals = ONE combinable shuffle; the
    per-user (min, max) span is a combinable agg on the same key; the grid
    is a map-only sequence-explode bounded by the user's day SPAN (a time
    dimension, not corpus-bounded); the fill is a single window PARTITIONED
    by user (never global) using last(ignorenulls) over a running frame —
    the standard distributed LOCF. Days in exact integer epoch-seconds //
    86400 (no calendar semantics to diverge cross-engine); day totals go
    through DECIMAL(28,14) partial sums (exact, layout-independent), the
    forward fill only COPIES those values."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400)
        .cast("long")
        .alias("d"),
        "value",
    )
    obs = e.groupBy("user_id", "d").agg(
        F.sum(F.col("value").cast("decimal(28,14)"))
        .cast("double")
        .alias("day_value")
    )
    span = e.groupBy("user_id").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("lo", "hi")).alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["user_id", "d"], "left")
        .select(
            "user_id",
            F.col("d").alias("day"),
            F.col("day_value").isNotNull().alias("is_observed"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


GAPFILL_SQL = """
WITH e AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d, value
  FROM events),
obs AS (
  SELECT user_id, d,
         CAST(SUM(CAST(value AS DECIMAL(28,14))) AS DOUBLE) AS day_value
  FROM e GROUP BY 1, 2),
span AS (SELECT user_id, MIN(d) AS lo, MAX(d) AS hi FROM e GROUP BY 1),
grid AS (
  SELECT s.user_id, gs.d
  FROM span s, UNNEST(generate_series(s.lo, s.hi)) AS gs(d))
SELECT g.user_id, g.d AS day,
       o.day_value IS NOT NULL AS is_observed,
       LAST_VALUE(o.day_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.d
         ROWS UNBOUNDED PRECEDING) AS filled_value
FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.d = g.d
"""


# Bloom-filter sizing: BLOOM_BITS bits as BLOOM_BITS/64 packed longs,
# BLOOM_K independent hash probes per key. At ~1k build keys the fill ratio
# stays under ~25%, so the false-positive rate is a few percent — the probe
# side sheds >90% of its non-matching rows BEFORE the join shuffle.
BLOOM_BITS = 8192
BLOOM_K = 2


def _bloom_pos(key: F.Column, seed: int) -> F.Column:
    from .textops import _portable_hash

    return F.pmod(
        _portable_hash(F.concat(F.lit(f"bf{seed}|"), key.cast("string"))),
        F.lit(BLOOM_BITS),
    )


def bloom_prefilter(probe: DataFrame, probe_key: str, build: DataFrame,
                    build_key: str) -> DataFrame:
    """Bloom-filter semi-join PUSHDOWN core: filter `probe` down to rows
    whose key MIGHT appear in `build` — a guaranteed superset of the true
    matches (no false negatives: every build key sets exactly the bits its
    probes test), with false positives bounded by the fill ratio. The 100 TB
    point: the bloom bitset is a fixed BLOOM_BITS/64-long array riding as a
    1-row broadcast, so the probe side is pruned MAP-SIDE before any join
    shuffle — the distributed form of the runtime bloom-join pushdown
    (Spark's spark.sql.optimizer.runtime.bloomFilter), built from
    first-class relational ops so the construction is portable and
    testable.

    Construction: per build key × BLOOM_K seeds, position = portable-hash
    mod BLOOM_BITS (the seeded-draw idiom — deterministic across engines
    and layouts); slot masks bit_or-combined per 64-bit slot (map-side
    combinable), densified onto a sequence-exploded slot spine, and folded
    to ONE array<long> row via sort_array(collect_list) over the ≤
    BLOOM_BITS/64 slots (constant-size — never corpus data). Membership =
    all BLOOM_K tested bits set, pure JVM bit algebra."""
    nslots = BLOOM_BITS // 64
    bk = build.select(F.col(build_key).alias("k")).distinct()
    marks = None
    for s in range(BLOOM_K):
        pos = _bloom_pos(F.col("k"), s)
        m = bk.select(
            (pos / 64).cast("int").alias("slot"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
            ).alias("mask"),
        )
        marks = m if marks is None else marks.union(m)
    slots = marks.groupBy("slot").agg(F.bit_or("mask").alias("bits"))
    spine = (
        probe.sparkSession.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(nslots - 1))).alias("slot"))
        .select(F.col("slot").cast("int").alias("slot"))
    )
    bloom = (
        spine.join(slots, "slot", "left")
        .select("slot", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("slot", "bits"))),
                lambda x: x.bits,
            ).alias("arr")
        )
    )  # 1 row: array<long> of length nslots
    out = probe.crossJoin(F.broadcast(bloom))
    cond = F.lit(True)
    for s in range(BLOOM_K):
        pos = _bloom_pos(F.col(probe_key), s)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        word = F.element_at(F.col("arr"), (pos / 64).cast("int") + 1)
        cond = cond & (word.bitwiseAND(bit) != 0)
    return out.where(cond).drop("arr")


BLOOM_PRICE_THRESHOLD = 450_000.0


def bloom_semi_join(spark, sf_dir):
    """Lineitems of high-value orders via a bloom-prefiltered semi join:
    the bloom bitset of qualifying order keys prunes the lineitem scan
    map-side (see bloom_prefilter), then the exact LEFT SEMI join removes
    the bloom's false positives — so the OUTPUT is exactly the plain semi
    join (the oracle), while the join shuffle carries only the bloom
    survivors instead of the full fact table."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"
    )
    hi = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > BLOOM_PRICE_THRESHOLD)
        .select("o_orderkey")
    )
    pre = bloom_prefilter(li, "l_orderkey", hi, "o_orderkey")
    return pre.join(
        hi, pre.l_orderkey == hi.o_orderkey, "left_semi"
    )


BLOOM_SEMI_SQL = f"""
SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
FROM lineitem l
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey
    AND o.o_totalprice > {BLOOM_PRICE_THRESHOLD})
"""


def mad_outliers(spark, sf_dir):
    """Robust per-group outlier tagging by median absolute deviation — the
    data-quality screen that survives the heavy tails a mean/stddev z-score
    does not: per event_type, median(value), MAD = median(|value - med|),
    and is_outlier = |value - med| > 3 * MAD. The two-level exact-median
    structure (a percentile OF a percentile-derived column) is the part
    plain aggregation cannot express in one pass.

    Scale shape: two exact percentile aggregates on the same group key
    (ONE partitioning serves both; exact percentile is the semantic pin —
    the GK/KLL sketches in this repo are the mergeable 100 TB path, same
    division of labor as percentile_event_values) with the tiny per-group
    stats broadcast back; everything else is map-only. Float discipline:
    value is a raw input double; |v - med| and 3*MAD are single
    correctly-rounded IEEE ops of values both engines computed identically
    (percentile_cont parity is pinned by the percentile CORR row), and the
    flag is a comparison, not arithmetic."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        "mad",
        (F.col("ad") > F.lit(3.0) * F.col("mad")).alias("is_outlier"),
    )


MAD_SQL = """
WITH m_med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1),
m_dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         ABS(e.value - m.med) AS ad
  FROM events e JOIN m_med m ON m.event_type = e.event_type),
m_mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad
  FROM m_dev GROUP BY 1)
SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
       d.ad > 3.0 * m.mad AS is_outlier
FROM m_dev d JOIN m_mad m ON m.event_type = d.event_type
"""


BURST_WINDOW_S = 3600  # trailing window width (seconds)
BURST_K = 3  # events within the window (incl. current) that flag a burst


def burst_detection(spark, sf_dir):
    """Sliding-window burst / rate-limit audit: for every event, the count
    of the SAME USER's events in the trailing BURST_WINDOW_S seconds
    (current row included) via a RANGE window frame over the epoch-second
    order key — the frame type the rest of the inventory doesn't exercise
    (ROWS frames count a fixed number of rows; a RANGE frame is
    value-bounded, so ties and irregular spacing are handled by the frame
    itself, not by pre-bucketing). Events with >= BURST_K window events are
    flagged — the abuse/rate-limit screen an event pipeline runs.

    Scale shape: ONE window PARTITIONED by user (never global) ordered by
    the integer epoch second; the RANGE frame is evaluated inside the
    window operator with no self-join and no explode — contrast
    range_join_cooccur, which needs the bucketed self-join because its
    band is BETWEEN two different relations' rows. Integer-only."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-(BURST_WINDOW_S - 1), 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.col("s").alias("epoch_s"),
        F.count("*").over(w).cast("long").alias("n_in_window"),
        (F.count("*").over(w) >= BURST_K).alias("is_burst"),
    )


BURST_SQL = f"""
SELECT event_id, user_id, epoch_s,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window,
       COUNT(*) OVER w >= {BURST_K} AS is_burst
FROM (SELECT event_id, user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN {BURST_WINDOW_S - 1} PRECEDING AND CURRENT ROW)
"""


def snapshot_diff(spark, sf_dir):
    """Snapshot diff — the INVERSE of CDC apply (cdc_apply_changes replays
    a changelog onto a snapshot; this derives the changelog FROM two
    snapshots, the table-format time-travel diff a lakehouse exposes as
    `table_changes(v1, v2)`): emit one row per changed key with op I/U/D
    and the before/after values. Snapshot B is synthesized from A inside
    the query by deterministic integer-key rules (delete every 13th key,
    double every 7th surviving value, insert a +10M-offset copy of every
    17th row) so both engines diff IDENTICAL snapshot pairs with no stored
    state.

    Scale shape: ONE full-outer equi-join on the key + a map-only
    classification — no windows, no secondary shuffles; unchanged keys are
    dropped by VALUE comparison (value*2 == value when value == 0 is a
    non-change by definition, both engines agree exactly: *2.0 and +1.0
    are single correctly-rounded IEEE ops)."""
    a = _t(spark, sf_dir, "events").select("event_id", "value")
    surv = a.where(F.col("event_id") % 13 != 0)
    b = surv.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.col("value") * F.lit(2.0))
        .otherwise(F.col("value"))
        .alias("value"),
    ).union(
        a.where(F.col("event_id") % 17 == 0).select(
            (F.col("event_id") + F.lit(10_000_000)).alias("event_id"),
            (F.col("value") + F.lit(1.0)).alias("value"),
        )
    )
    j = a.select(
        F.col("event_id").alias("k"), F.col("value").alias("before_value")
    ).join(
        b.select(
            F.col("event_id").alias("k"), F.col("value").alias("after_value")
        ),
        "k",
        "full_outer",
    )
    return j.select(
        F.col("k").alias("event_id"),
        F.when(F.col("after_value").isNull(), F.lit("D"))
        .when(F.col("before_value").isNull(), F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "before_value",
        "after_value",
    ).where(
        F.col("before_value").isNull()
        | F.col("after_value").isNull()
        | (F.col("before_value") != F.col("after_value"))
    )


SNAPSHOT_DIFF_SQL = """
WITH sd_a AS (SELECT event_id, value FROM events),
sd_b AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN value * 2.0 ELSE value END AS value
  FROM sd_a WHERE event_id % 13 <> 0
  UNION ALL
  SELECT event_id + 10000000 AS event_id, value + 1.0 AS value
  FROM sd_a WHERE event_id % 17 = 0),
sd_j AS (
  SELECT COALESCE(a.event_id, b.event_id) AS event_id,
         a.value AS before_value, b.value AS after_value,
         a.event_id IS NOT NULL AS in_a, b.event_id IS NOT NULL AS in_b
  FROM sd_a a FULL OUTER JOIN sd_b b ON b.event_id = a.event_id)
SELECT event_id,
       CASE WHEN NOT in_b THEN 'D' WHEN NOT in_a THEN 'I'
            ELSE 'U' END AS op,
       before_value, after_value
FROM sd_j
WHERE NOT in_a OR NOT in_b OR before_value <> after_value
"""


def user_value_trend(spark, sf_dir):
    """Per-user OLS trend: slope and intercept of value over time (the
    grouped linear-regression aggregate — REGR_SLOPE/REGR_INTERCEPT
    semantics — that turns an event stream into per-entity drift/trend
    features). Groups with a degenerate design (fewer than 2 points, or
    zero time variance) emit NULL slope/intercept on both engines.

    Scale shape: ONE combinable aggregation per user computing the five
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) — the textbook
    map-side-combinable form of regression; no window, no second pass.
    Exactness: x is the epoch second RE-BASED to the user's first event
    (one exact integer subtract — slope is shift-invariant, and rebasing
    keeps x ≤ days-in-seconds so x² stays integer-exact), x·y is ONE IEEE
    multiply of an exact int by a raw double; Σ goes through DECIMAL
    partials (x², an exact integer, through DECIMAL(38,0); x·y through
    DECIMAL(28,12)); the closed form
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx),
    intercept = (Σy − slope·Σx) / n
    is then a FIXED tree of IEEE ops over the exactly-computed sums —
    identical expression both engines."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("s"),
        F.col("value").alias("y"),
    )
    base = e.groupBy("user_id").agg(F.min("s").alias("s0"))
    xy = e.join(base, "user_id").select(
        "user_id", (F.col("s") - F.col("s0")).alias("x"), "y"
    )
    stats = xy.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,12)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    den = n * sxx - sx * sx
    slope = F.when(den != 0.0, (n * sxy - sx * sy) / den)
    return stats.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        slope.alias("slope"),
        F.when(den != 0.0, (sy - ((n * sxy - sx * sy) / den) * sx) / n).alias(
            "intercept"
        ),
    )


TREND_SQL = """
WITH tr_e AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s, value AS y
  FROM events),
tr_b AS (SELECT user_id, MIN(s) AS s0 FROM tr_e GROUP BY 1),
tr_xy AS (
  SELECT e.user_id, e.s - b.s0 AS x, e.y
  FROM tr_e e JOIN tr_b b ON b.user_id = e.user_id),
tr_s AS (
  SELECT user_id,
         COUNT(*) AS n,
         SUM(x) AS sx,
         SUM(CAST(y AS DECIMAL(28,12))) AS sy,
         SUM(CAST(x * y AS DECIMAL(28,12))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx
  FROM tr_xy GROUP BY 1)
SELECT user_id,
       CAST(n AS BIGINT) AS n_events,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       END AS slope,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE)
       END AS intercept
FROM tr_s
"""


def weighted_median_price(spark, sf_dir):
    """Grouped WEIGHTED median — the aggregate neither engine ships
    (percentile/quantile_cont weight every row equally; here each part's
    price carries its size as mass): per brand, the lower weighted median
    = the smallest price whose cumulative weight reaches half the brand's
    total weight. The inventory/pricing form of the classic
    order-statistics-with-mass problem.

    Scale shape: ONE brand-partitioned window (cumulative weight in price
    order — per-group state, never global), the group total riding the
    SAME window with an unbounded frame (one partitioning serves both),
    then a combinable min-aggregate over the qualifying rows. The
    qualifying test is pure integer arithmetic (2·cumw >= total — no
    float half-total), and the reported median is a raw input value —
    nothing to round, trivially exact cross-engine."""
    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.col("p_retailprice").alias("v"),
        F.col("p_size").cast("long").alias("w"),
    )
    wo = (
        Window.partitionBy("p_brand")
        .orderBy("v", "p_partkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("p_brand").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = p.select(
        "p_brand",
        "v",
        F.sum("w").over(wo).alias("cumw"),
        F.sum("w").over(wall).alias("totw"),
    )
    return (
        c.where(F.lit(2) * F.col("cumw") >= F.col("totw"))
        .groupBy("p_brand")
        .agg(
            F.min("v").alias("weighted_median"),
            F.max("totw").cast("long").alias("total_weight"),
        )
    )


WEIGHTED_MEDIAN_SQL = """
WITH wm_c AS (
  SELECT p_brand, p_retailprice AS v,
         SUM(CAST(p_size AS BIGINT)) OVER (
           PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
           ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(CAST(p_size AS BIGINT)) OVER (
           PARTITION BY p_brand) AS totw
  FROM part)
SELECT p_brand, MIN(v) AS weighted_median,
       CAST(MAX(totw) AS BIGINT) AS total_weight
FROM wm_c WHERE 2 * cumw >= totw
GROUP BY p_brand
"""


def audience_churn(spark, sf_dir):
    """Day-over-day audience churn — the set-evolution op next to
    [retention_cohorts]'s long-horizon triangle and [cumulative_unique_users]'
    growth curve (those count; this measures COMPOSITION change): per day,
    how many active users were retained from the previous day, how many are
    new to the pair, how many churned, and the Jaccard overlap of the two
    active sets — the daily audience-stability score.

    Scale shape: the corpus collapses to the distinct (day, user) relation
    in ONE combinable pass; retention is a self-equi-join on
    (user, day = day+1) — user-and-day keyed, never all-pairs; the rollups
    are day-dimension aggregates joined day-to-day. Integer-only to the
    single final division."""
    e = _t(spark, sf_dir, "events").select(
        F.floor(
            F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400
        )
        .cast("long")
        .alias("day"),
        "user_id",
    )
    du = e.distinct()
    daily = du.groupBy("day").agg(F.count("*").alias("n_active"))
    prev = du.select((F.col("day") + 1).alias("day"), "user_id")
    inter = (
        du.join(prev, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count("*").alias("n_retained"))
    )
    pn = daily.select(
        (F.col("day") + 1).alias("day"), F.col("n_active").alias("n_prev")
    )
    j = (
        daily.join(pn, "day")
        .join(inter, "day", "left")
        .withColumn("n_ret", F.coalesce("n_retained", F.lit(0)))
    )
    return j.select(
        "day",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("n_prev").cast("long").alias("n_prev"),
        F.col("n_ret").cast("long").alias("n_retained"),
        (F.col("n_active") - F.col("n_ret")).cast("long").alias("n_new"),
        (F.col("n_prev") - F.col("n_ret")).cast("long").alias("n_churned"),
        (
            F.col("n_ret").cast("double")
            / (F.col("n_active") + F.col("n_prev") - F.col("n_ret")).cast(
                "double"
            )
        ).alias("jaccard"),
    )


CHURN_SQL = """
WITH ch_e AS (
  SELECT DISTINCT CAST(FLOOR(FLOOR(epoch(ts)) / 86400) AS BIGINT) AS day,
         user_id
  FROM events),
ch_d AS (SELECT day, COUNT(*) AS n_active FROM ch_e GROUP BY 1),
ch_i AS (
  SELECT c.day, COUNT(*) AS n_retained
  FROM ch_e c JOIN ch_e p ON p.user_id = c.user_id AND p.day = c.day - 1
  GROUP BY 1)
SELECT d.day,
       CAST(d.n_active AS BIGINT) AS n_active,
       CAST(p.n_active AS BIGINT) AS n_prev,
       CAST(COALESCE(i.n_retained, 0) AS BIGINT) AS n_retained,
       CAST(d.n_active - COALESCE(i.n_retained, 0) AS BIGINT) AS n_new,
       CAST(p.n_active - COALESCE(i.n_retained, 0) AS BIGINT) AS n_churned,
       CAST(COALESCE(i.n_retained, 0) AS DOUBLE)
         / CAST(d.n_active + p.n_active - COALESCE(i.n_retained, 0)
                AS DOUBLE) AS jaccard
FROM ch_d d
JOIN ch_d p ON p.day = d.day - 1
LEFT JOIN ch_i i ON i.day = d.day
"""


def rfm_scores(spark, sf_dir):
    """RFM customer scoring — the classic marketing-analytics segmentation
    (recency of last order, frequency of orders, monetary total, each
    quartile-binned and concatenated into the 111–444 RFM code): the
    per-entity scoring rollup a CRM/personalization pipeline materializes.

    Scale shape: ONE combinable groupBy per customer computes all three
    raw statistics (monetary through DECIMAL partials); the three NTILE
    windows run over the CUSTOMER dimension (entity-bounded, not
    event-bounded) and share deterministic total orders (custkey
    tie-break — NTILE is row-count-based, so a total order makes it
    engine-exact). recency ranked DESC (most recent order → quartile 4,
    matching frequency/monetary's bigger-is-better direction). Integer
    output."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400
        )
        .cast("long")
        .alias("od"),
        F.col("o_totalprice").alias("v"),
    )
    g = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("od").alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum(F.col("v").cast("decimal(28,12)")).alias("msum"),
    )
    r_w = Window.orderBy(F.asc("last_day"), F.asc("custkey"))
    f_w = Window.orderBy(F.asc("frequency"), F.asc("custkey"))
    m_w = Window.orderBy(F.asc("msum"), F.asc("custkey"))
    scored = g.select(
        "custkey",
        "last_day",
        F.col("frequency").cast("long").alias("frequency"),
        F.col("msum").cast("double").alias("monetary"),
        F.ntile(4).over(r_w).alias("r_q"),
        F.ntile(4).over(f_w).alias("f_q"),
        F.ntile(4).over(m_w).alias("m_q"),
    )
    return scored.select(
        "custkey",
        "last_day",
        "frequency",
        "monetary",
        F.col("r_q").cast("int").alias("r_q"),
        F.col("f_q").cast("int").alias("f_q"),
        F.col("m_q").cast("int").alias("m_q"),
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("rfm"),
    )


RFM_SQL = """
WITH rf_o AS (
  SELECT o_custkey AS custkey,
         CAST(FLOOR(FLOOR(epoch(o_orderdate)) / 86400) AS BIGINT) AS od,
         o_totalprice AS v
  FROM orders),
rf_g AS (
  SELECT custkey, MAX(od) AS last_day, COUNT(*) AS frequency,
         SUM(CAST(v AS DECIMAL(28,12))) AS msum
  FROM rf_o GROUP BY 1),
rf_s AS (
  SELECT custkey, last_day, frequency,
         CAST(msum AS DOUBLE) AS monetary,
         NTILE(4) OVER (ORDER BY last_day ASC, custkey ASC) AS r_q,
         NTILE(4) OVER (ORDER BY frequency ASC, custkey ASC) AS f_q,
         NTILE(4) OVER (ORDER BY msum ASC, custkey ASC) AS m_q
  FROM rf_g)
SELECT custkey, last_day, CAST(frequency AS BIGINT) AS frequency, monetary,
       CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
       CAST(m_q AS INT) AS m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm
FROM rf_s
"""


def salted_join_enrich(spark, sf_dir):
    """Hot-key-safe dimension enrichment via the replicate-small/salt-big
    join (`operators/skew.py:salted_join` — the JOIN half of the explicit
    skew toolkit whose AGG half holds the [salted_event_counts] CORR row):
    events keyed to a per-customer order-count dim through the salted
    two-phase join, rolled up per event_type. The salt is pure plumbing —
    the output equals the plain equi-join bit for bit, which is exactly
    what the oracle states (the plain JOIN + GROUP BY).

    Scale shape: the dim side is exploded n_salts× (small by contract),
    the big side salted deterministically, so a hot customer's rows land
    on n_salts distinct reducers instead of one. At THIS dim size a
    broadcast join is the better plan (and the repo broadcasts dims
    elsewhere); this query pins the technique for the
    small-but-not-broadcastable regime (10⁷-row dims at 100 TB)."""
    from ..operators.skew import salted_join

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("user_id") % 150 + 1).cast("long").alias("custkey"),
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    # salt from the row-unique event_id: a hot custkey's rows spread over
    # all n_salts reducers (salting from the join key itself would put the
    # whole hot key back on one reducer)
    j = salted_join(e, dim, "custkey", n_salts=8, big_salt_from=["event_id"])
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("n_orders").cast("long").alias("sum_cust_orders"),
        F.countDistinct("custkey").cast("long").alias("n_custs"),
    )


SALTED_JOIN_SQL = """
WITH sj_e AS (
  SELECT event_type, CAST(user_id % 150 + 1 AS BIGINT) AS custkey
  FROM events),
sj_d AS (
  SELECT o_custkey AS custkey, COUNT(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(d.n_orders) AS BIGINT) AS sum_cust_orders,
       CAST(COUNT(DISTINCT e.custkey) AS BIGINT) AS n_custs
FROM sj_e e JOIN sj_d d USING (custkey)
GROUP BY 1
"""


ZSCORE_TRAIL = 10  # trailing-window length (rows) for rolling standardization


def rolling_zscore(spark, sf_dir):
    """Rolling standardization — the online feature-engineering transform
    (score each event against ITS OWN recent past, not the global
    distribution [mad_outliers] screens): per event, the z-score of value
    against the user's trailing ZSCORE_TRAIL-row window. The two-frame-
    aggregate composition (mean AND std over one moving frame) the
    single-aggregate frame rows ([moving_avg_user_value],
    [running_user_value]) don't exercise.

    Scale shape: ONE user-partitioned window; count/sum/sum-of-squares all
    share the same frame spec, so Catalyst evaluates them in a single
    Window over one exchange. Exactness: frame sums go through DECIMAL
    partials (order-independent — the user_value_trend discipline), the
    sample-variance closed form is a fixed IEEE tree, sqrt is correctly
    rounded; frames with n < 2 or zero variance yield NULL z on both
    engines."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
        .cast("long")
        .alias("s"),
        F.col("value").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(-(ZSCORE_TRAIL - 1), 0)
    )
    fr = e.select(
        "event_id",
        "user_id",
        "v",
        F.count("*").over(w).alias("n"),
        F.sum(F.col("v").cast("decimal(28,12)")).over(w).alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)"))
        .over(w)
        .alias("svv"),
    )
    n = F.col("n").cast("double")
    sv = F.col("sv").cast("double")
    svv = F.col("svv").cast("double")
    mean = sv / n
    var = (n * svv - sv * sv) / (n * (n - F.lit(1.0)))
    return fr.select(
        "event_id",
        "user_id",
        "v",
        F.col("n").cast("long").alias("n_window"),
        mean.alias("mean_w"),
        F.when(
            (F.col("n") > 1) & (n * svv - sv * sv > 0),
            (F.col("v") - mean) / F.sqrt(var),
        ).alias("zscore"),
    )


ROLLING_Z_SQL = f"""
WITH rz_e AS (
  SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         value AS v
  FROM events),
rz_f AS (
  SELECT event_id, user_id, v,
         COUNT(*) OVER w AS n,
         SUM(CAST(v AS DECIMAL(28,12))) OVER w AS sv,
         SUM(CAST(v * v AS DECIMAL(28,12))) OVER w AS svv
  FROM rz_e
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN {ZSCORE_TRAIL - 1} PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, v, CAST(n AS BIGINT) AS n_window,
       CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_w,
       CASE WHEN n > 1
             AND CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                 - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) > 0
            THEN (v - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                 / SQRT((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                        / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))))
       END AS zscore
FROM rz_f
"""


DEDUP_WINDOW_S = 3600  # tumbling dedup window (seconds)


def dedup_time_window(spark, sf_dir):
    """Windowed event deduplication — the at-least-once-ingestion
    idempotency op (retried producers emit the same logical event twice;
    keep ONE per (user, type) per tumbling hour) and the BATCH form of a
    streaming dropDuplicatesWithinWatermark: first event per (user_id,
    event_type, hour bucket) by (ts, event_id) survives, with the duplicate count it
    absorbed riding along.

    Scale shape: ONE window whose partition key includes the time bucket —
    per-group state is one key's one-hour slice (bounded by the window,
    never by history; exactly the memory argument watermarked streaming
    dedup makes); the duplicate count shares the same partitioning via an
    aggregate frame. Integer-only."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
        .cast("long")
        .alias("s"),
    )
    e = e.withColumn(
        "win_start",
        (F.floor(F.col("s") / DEDUP_WINDOW_S) * DEDUP_WINDOW_S).cast("long"),
    )
    wp = Window.partitionBy("user_id", "event_type", "win_start")
    w = wp.orderBy("s", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            "win_start",
            F.row_number().over(w).alias("rn"),
            (F.count("*").over(wp) - 1).cast("long").alias("n_dups_absorbed"),
        )
        .where(F.col("rn") == 1)
        .select(
            "event_id", "user_id", "event_type", "win_start", "n_dups_absorbed"
        )
    )


DEDUP_WINDOW_SQL = f"""
WITH dw_e AS (
  SELECT event_id, user_id, event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / {DEDUP_WINDOW_S})
              * {DEDUP_WINDOW_S} AS BIGINT) AS win_start
  FROM events),
dw_r AS (
  SELECT event_id, user_id, event_type, win_start,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type, win_start
           ORDER BY s, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, event_type, win_start) - 1
           AS n_dups
  FROM dw_e)
SELECT event_id, user_id, event_type, win_start,
       CAST(n_dups AS BIGINT) AS n_dups_absorbed
FROM dw_r WHERE rn = 1
"""


ATTRIB_WINDOW_S = 7 * 86400  # attribution lookback (seconds)


def attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution — the marketing/product-analytics
    op crediting each purchase to the user's most recent preceding
    non-purchase touchpoint within a 7-day lookback (the [gapfill_user_days]
    LOCF machinery pointed at a different question: carry the last TOUCH
    forward instead of the last value), rolled up to per-channel conversion
    counts; purchases with no in-window touch land in the 'none' bucket.

    Scale shape: ONE user-partitioned running window (per-user state, never
    corpus-bounded) carries both the last touch type and its timestamp via
    last(ignorenulls) over a 1-PRECEDING frame; the rollup is a combinable
    count on the small channel dimension. Integer epoch-second lookback
    test — no calendar semantics to diverge cross-engine."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
        .cast("long")
        .alias("s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_type = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touch_s = F.when(F.col("event_type") != "purchase", F.col("s"))
    carried = e.select(
        "event_id",
        "event_type",
        "s",
        F.last(touch_type, ignorenulls=True).over(w).alias("lt_type"),
        F.last(touch_s, ignorenulls=True).over(w).alias("lt_s"),
    )
    attributed = carried.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt_s") >= F.col("s") - ATTRIB_WINDOW_S, F.col("lt_type")
        ).alias("ch")
    )
    return (
        attributed.groupBy(F.coalesce("ch", F.lit("none")).alias("channel"))
        .agg(F.count("*").cast("long").alias("n_purchases"))
    )


ATTRIBUTION_SQL = f"""
WITH at_e AS (
  SELECT event_id, user_id, event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
  FROM events),
at_c AS (
  SELECT event_id, event_type, s,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN s END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_s
  FROM at_e)
SELECT COALESCE(CASE WHEN lt_s >= s - {ATTRIB_WINDOW_S} THEN lt_type END,
                'none') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM at_c WHERE event_type = 'purchase'
GROUP BY 1
"""


ORDER_OPEN_DAYS = 30  # synthetic fulfillment interval length (days)


def concurrent_orders(spark, sf_dir):
    """Interval-stabbing / sweep-line temporal aggregation: how many orders
    are OPEN on each day — the concurrency count over an interval set (each
    order is open for ORDER_OPEN_DAYS from its order date), the operator
    behind license-seat counting, connection-concurrency audits, and
    overlap-capacity checks. Neither engine has a native interval-stab
    aggregate; expressed as the classic boundary sweep: +1 at each start,
    −1 at each end, prefix-sum over the day line.

    Scale shape: the interval relation collapses to per-day NET deltas by
    ONE combinable groupBy (boundary union is map-only), so the only window
    runs over the bounded DAY dimension (the [cumulative_unique_users]
    waiver) — never over the interval corpus. Integer-only."""
    o = _t(spark, sf_dir, "orders").select(
        F.floor(
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400
        )
        .cast("long")
        .alias("sd")
    )
    bounds = o.select(
        F.col("sd").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        o.select(
            (F.col("sd") + ORDER_OPEN_DAYS).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = bounds.groupBy("day").agg(
        F.sum("delta").alias("net"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("n_starts"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0)).alias("n_ends"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("n_starts").cast("long").alias("n_starts"),
        F.col("n_ends").cast("long").alias("n_ends"),
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


CONCURRENT_SQL = f"""
WITH co_o AS (
  SELECT CAST(FLOOR(FLOOR(epoch(o_orderdate)) / 86400) AS BIGINT) AS sd
  FROM orders),
co_b AS (
  SELECT sd AS day, 1 AS delta FROM co_o
  UNION ALL
  SELECT sd + {ORDER_OPEN_DAYS} AS day, -1 AS delta FROM co_o),
co_d AS (
  SELECT day, SUM(delta) AS net,
         SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS n_starts,
         SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS n_ends
  FROM co_b GROUP BY 1)
SELECT day, CAST(n_starts AS BIGINT) AS n_starts,
       CAST(n_ends AS BIGINT) AS n_ends,
       CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_orders
FROM co_d
"""


BASKET_MIN_SUPP = 2  # minimum co-occurrence count for an emitted pair


def basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence mining (the Apriori/FP-growth L2 layer):
    part pairs bought together in the same order, with support, confidence,
    and lift — the association-rule signal a recommendation pipeline
    extracts from transaction logs. Exact counts; pairs below
    BASKET_MIN_SUPP are pruned (the support threshold that makes Apriori
    tractable at all).

    Scale shape: the pair enumeration is ONE self-equi-join on the basket
    key — fan-out per basket is basket-size², bounded by the transaction
    model (TPC-H ≤ 7 lines; a retail basket is dozens), never corpus² — and
    the a < b orientation halves it; per-item supports are a part-dimension
    relation broadcast to both sides; the basket total rides as a 1-row
    broadcast. Integer counts; confidence and lift are single IEEE divisions
    of BIGINT-exact products."""
    items = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_df = items.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    supp = items.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("s")
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "k")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("supp_ab"))
        .where(F.col("supp_ab") >= BASKET_MIN_SUPP)
    )
    sa = supp.select(F.col("p").alias("pa"), F.col("s").alias("supp_a"))
    sb = supp.select(F.col("p").alias("pb"), F.col("s").alias("supp_b"))
    return (
        pairs.join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("supp_ab").cast("long").alias("supp_ab"),
            F.col("supp_a").cast("long").alias("supp_a"),
            F.col("supp_b").cast("long").alias("supp_b"),
            (
                F.col("supp_ab").cast("double")
                / F.col("supp_a").cast("double")
            ).alias("confidence"),
            (
                (F.col("supp_ab") * F.col("n_baskets")).cast("double")
                / (F.col("supp_a") * F.col("supp_b")).cast("double")
            ).alias("lift"),
        )
    )


BASKET_SQL = f"""
WITH bk_i AS (
  SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
bk_n AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_baskets FROM bk_i),
bk_s AS (SELECT p, COUNT(*) AS s FROM bk_i GROUP BY 1),
bk_p AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS supp_ab
  FROM bk_i a JOIN bk_i b ON a.k = b.k AND a.p < b.p
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPP})
SELECT p.pa AS part_a, p.pb AS part_b,
       CAST(p.supp_ab AS BIGINT) AS supp_ab,
       CAST(sa.s AS BIGINT) AS supp_a,
       CAST(sb.s AS BIGINT) AS supp_b,
       CAST(p.supp_ab AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
       CAST(p.supp_ab * n.n_baskets AS DOUBLE)
         / CAST(sa.s * sb.s AS DOUBLE) AS lift
FROM bk_p p
JOIN bk_s sa ON sa.p = p.pa
JOIN bk_s sb ON sb.p = p.pb
CROSS JOIN bk_n n
"""


ADVANCED_QUERIES: dict[str, tuple] = {
    "asof_join_latest_order": (asof_join_latest_order, ASOF_SQL),
    "distinct_user_stats": (distinct_user_stats, DISTINCT_SQL),
    "slide2_word_pairs": (slide2_word_pairs, SLIDE2_SQL),
    "range_join_cooccur": (range_join_cooccur, RANGE_JOIN_SQL),
    "cube_event_stats": (cube_event_stats, CUBE_SQL),
    "grouping_sets_event_stats": (grouping_sets_event_stats, GROUPING_SETS_SQL),
    "percentile_event_values": (percentile_event_values, PERCENTILE_SQL),
    "moving_avg_user_value": (moving_avg_user_value, MOVING_AVG_SQL),
    "url_host_extract": (url_host_extract, URL_HOST_SQL),
    # sweep-capped (registry._UNREGISTERED); no SQL oracle by design —
    # sketch internals are engine-specific; accuracy pinned in pytest
    "hll_user_counts": (hll_user_counts, None),
    "approx_value_quantiles": (approx_value_quantiles, None),
    "kll_sketch_rollup": (kll_sketch_rollup, None),
    "lateral_top_orders": (lateral_top_orders, LATERAL_SQL),
    "fuzzy_part_matches": (fuzzy_part_matches, FUZZY_SQL),
    "scd2_user_state": (scd2_user_state, SCD2_SQL),
    "cdc_apply_changes": (cdc_apply_changes, CDC_SQL),
    "funnel_steps": (funnel_steps, FUNNEL_SQL),
    "cumulative_unique_users": (cumulative_unique_users, CUM_UNIQUE_SQL),
    "unpivot_quality_metrics": (unpivot_quality_metrics, UNPIVOT_SQL),
    "retention_cohorts": (retention_cohorts, RETENTION_SQL),
    "pareto_frontier_parts": (pareto_frontier_parts, PARETO_SQL),
    "gapfill_user_days": (gapfill_user_days, GAPFILL_SQL),
    "bloom_semi_join": (bloom_semi_join, BLOOM_SEMI_SQL),
    "mad_outliers": (mad_outliers, MAD_SQL),
    "burst_detection": (burst_detection, BURST_SQL),
    "snapshot_diff": (snapshot_diff, SNAPSHOT_DIFF_SQL),
    "user_value_trend": (user_value_trend, TREND_SQL),
    "weighted_median_price": (weighted_median_price, WEIGHTED_MEDIAN_SQL),
    "concurrent_orders": (concurrent_orders, CONCURRENT_SQL),
    "basket_pairs": (basket_pairs, BASKET_SQL),
    "attribution_last_touch": (attribution_last_touch, ATTRIBUTION_SQL),
    "dedup_time_window": (dedup_time_window, DEDUP_WINDOW_SQL),
    "point_in_time_state": (point_in_time_state, PIT_SQL),
    "rolling_zscore": (rolling_zscore, ROLLING_Z_SQL),
    "salted_join_enrich": (salted_join_enrich, SALTED_JOIN_SQL),
    "audience_churn": (audience_churn, CHURN_SQL),
    "rfm_scores": (rfm_scores, RFM_SQL),
}
