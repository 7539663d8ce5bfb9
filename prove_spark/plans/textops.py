"""Training-data pipeline operators over documents/embeddings, each paired
with a DuckDB oracle: deduplication (exact, n-gram Jaccard, MinHash-LSH,
SimHash), similarity search (brute-force + LSH-bucketed cosine), text
analysis (lang-id, quality, token counts, fingerprints), multimodal byte
plumbing.

Portability rules used throughout:
- cross-engine hash: Spark CONV(SUBSTR(MD5(x),1,15),16,10)::BIGINT, DuckDB
  CAST(CONCAT('0x', SUBSTR(MD5(x),1,15)) AS BIGINT) (DuckDB has no CONV;
  the 0x-prefixed cast decodes the same 60-bit hex) — identical values, no
  engine-native hash() in any oracle-compared column.
- float reductions over embeddings go through DECIMAL(28,14) partial sums →
  exact and associative in both engines → cosines are bit-identical and safe
  to threshold/sort on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# shared table loader (single source: one place to change if the
# path layout or a catalog integration ever changes)
from .relational import _t  # noqa: E402


def _rebalance_scan(spark: SparkSession, df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Fan a scan out to the session's core count BEFORE CPU-heavy per-row
    work (shingle explode, tf explode) — but only when the source yields
    fewer splits than cores. Parquet cannot split below row-group
    granularity, so a small-file / giant-row-group table pins the whole map
    phase to ONE task no matter how many cores exist. The condition makes
    this self-limiting at scale: the repartition triggers only when the
    input is small relative to the cluster (so the introduced shuffle is
    small by construction, and it carries raw rows — cheaper than shuffling
    the exploded output); a 100 TB table already fans out to thousands of
    splits and the plan gains no exchange at all. Hash-partitioned on `key`
    for a deterministic layout.

    The split-count decision comes from relational._scan_partitions: a
    memoized Python-side file-size estimate for _t tables (mirrors Spark's
    FilePartition math), falling back to the plan→RDD probe otherwise."""
    from .relational import _scan_partitions

    target = spark.sparkContext.defaultParallelism
    if _scan_partitions(spark, df) < target:
        return df.repartition(target, key)
    return df


def _portable_hash(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


PORTABLE_HASH_SQL = "CAST(CONCAT('0x', SUBSTR(MD5({x}), 1, 15)) AS BIGINT)"


# ------------------------------------------------------------- exact dedup
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content fingerprint, keep min doc_id."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("fingerprint", F.md5("text"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT MD5(text) AS fingerprint, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY MD5(text)
"""


# ----------------------------------------------------- shingles (shared CTE)
def _shingles(spark, sf_dir) -> DataFrame:
    """Distinct word 3-gram shingles per doc — fully MAP-SIDE via array HOFs:
    slice the split array with transform(sequence(...)), dedupe per doc with
    array_distinct, then explode. No shuffle of its own (the old lead-window
    formulation cost a doc_id window shuffle + a global distinct shuffle;
    since shingles are per-document, both were unnecessary) — the only
    exchange ever present is the conditional scan rebalance, which carries
    raw docs and disappears once the source supplies >= cores splits. The
    SQL oracle keeps the window formulation — same (doc_id, shingle) set."""
    d = _rebalance_scan(spark, _t(spark, sf_dir, "documents"))
    # Bind split() ONCE in its own projection: inlined, every element_at in
    # the transform lambda re-splits the text — O(words^2) per doc (measured
    # 4x slower). The separate Project keeps one array per row. Expressions
    # are SQL strings parsed server-side (r6): one py4j call per projection
    # instead of ~25 Column-API round trips per invocation.
    return d.selectExpr("doc_id", "split(text, ' ') AS words").selectExpr(
        "doc_id",
        "explode(array_distinct(CASE WHEN size(words) >= 3 "
        "THEN transform(sequence(1, size(words) - 2), i -> "
        "concat_ws(' ', element_at(words, i), element_at(words, i + 1), "
        "element_at(words, i + 2))) "
        "ELSE CAST(ARRAY() AS ARRAY<STRING>) END)) AS s",
    )


SHINGLES_SQL = """
words AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
         UNNEST(generate_series(1, len(string_split(text, ' ')))) AS p
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
    w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY p)
      || ' ' || LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY p) AS s
  FROM words
  QUALIFY LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY p) IS NOT NULL
)
"""


# ------------------------------------------------------- n-gram Jaccard dedup
# Document-frequency cap for the inverted-index self-join: a shingle present
# in k docs emits k*(k-1)/2 join rows, so one hot "stop-shingle" in 1M docs
# is a 5e11-row blowup. Shingles with df > MAX_SHINGLE_DF are dropped from
# the Jaccard universe on BOTH sides (Spark and oracle) — they carry almost
# no discriminative signal (present everywhere) and capping them bounds the
# worst key's fan-out at MAX_SHINGLE_DF^2. 64 is far above the observed max
# df on the testdata (7 at sf0.01, 25 at sf0.1), so small-scale results are
# bit-identical to the uncapped query.
MAX_SHINGLE_DF = 64

def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 3-gram-shingle Jaccard >= 0.5 (shingle inverted-index
    formulation — never a cross join; integer-ratio Jaccard is exact).

    Scale shape (r6 rewrite, guide §2.4): ONE exchange groups the shingle
    postings (s -> sorted doc list); the df-cap (> MAX_SHINGLE_DF dropped)
    is a size filter ON THE GROUP — the old separate hot-set aggregation +
    broadcast anti-join + persisted self-join (3 extra fact-scale exchange
    reads and a blocking broadcast job) collapse into it. Candidate pairs
    are generated MAP-SIDE from each (bounded, <= 64-element) posting list
    by a double explode, so the per-key fan-out bound is the same
    MAX_SHINGLE_DF^2 as before but no shingle row is ever shuffled twice.
    The postings exchange feeds both the pair counts and the per-doc sizes
    via ReuseExchange (one shuffle write, two reduce-side reads)."""
    raw = _shingles(spark, sf_dir)
    kept = (
        raw.groupBy("s")
        .agg(F.collect_list("doc_id").alias("ds"))
        .where(F.size("ds") <= MAX_SHINGLE_DF)
        .select("ds")
    )
    pairs = (
        kept.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = (
        kept.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


DEDUP_JACCARD_SQL = f"""
WITH {SHINGLES_SQL},
kept AS (
  SELECT doc_id, s FROM shingles
  WHERE s NOT IN (SELECT s FROM shingles GROUP BY s HAVING COUNT(*) > {MAX_SHINGLE_DF})
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
"""


# ------------------------------------------------------------- MinHash + LSH
N_MINHASH = 8
N_BANDS = 4  # rows-per-band = 2


def _minhash_wide(spark, sf_dir) -> DataFrame:
    """One-pass MinHash: all k=8 hash mins in a single groupBy over the
    shingle set (k min-aggregates, ONE shuffle — not k scans). At 100 TB the
    shingle explode is the dominant cost; it must run exactly once."""
    sh = _shingles(spark, sf_dir)
    aggs = [
        F.expr(
            f"MIN(CAST(CONV(SUBSTRING(MD5(CONCAT('{i}|', s)), 1, 15), 16, 10)"
            f" AS BIGINT)) AS m{i}"
        )
        for i in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(spark, sf_dir):
    """MinHash signatures: k=8 portable hash functions h_i(s)=H(i||s), min per
    doc. Emitted long-form (doc_id, h_idx, minhash) via JVM-side stack (a
    map-only unpivot of the one-pass wide aggregate)."""
    wide = _minhash_wide(spark, sf_dir)
    stack_expr = ", ".join(f"{i}, m{i}" for i in range(N_MINHASH))
    return wide.select(
        "doc_id",
        F.expr(f"stack({N_MINHASH}, {stack_expr}) AS (h_idx, minhash)"),
    )


_MINHASH_PARTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {i} AS h_idx, MIN({PORTABLE_HASH_SQL.format(x=f_expr)}) AS minhash FROM shingles GROUP BY doc_id"
    for i, f_expr in [(i, f"CONCAT('{i}|', s)") for i in range(N_MINHASH)]
)
MINHASH_SQL = f"""
WITH {SHINGLES_SQL}
{_MINHASH_PARTS}
"""


# Band-bucket size cap: an adversarial corpus (or a degenerate signature,
# e.g. millions of empty docs hashing identically) can put k docs in ONE
# band bucket → k*(k-1)/2 pairs from that bucket alone. Buckets larger than
# the cap are dropped on both engines: a bucket of >64 "near-dups" is noise
# (the exact-Jaccard verify step would reject the flood anyway — cheaper to
# never emit it). 64 is well above the observed max (16 at sf0.1).
LSH_BUCKET_CAP = 64


def lsh_candidate_pairs(spark, sf_dir):
    """LSH banding: band key = (band_id, h0, h1 of the band); docs sharing a
    band key become candidate near-dup pairs (then verified by Jaccard in
    dedup_ngram_jaccard — the classic two-step at scale). Hot buckets above
    LSH_BUCKET_CAP are dropped before the self-join (bounded fan-out)."""
    rows_per_band = N_MINHASH // N_BANDS
    wide = _minhash_wide(spark, sf_dir)
    # map-only band construction from the wide signature (no extra shuffle):
    # band key = '_'-join of the band's minhashes in H_IDX ORDER — sorting by
    # value would let two docs whose hash minima merely permute collide,
    # inflating candidates beyond the standard s^r banding model. SQL-string
    # expressions (r6): one server-side parse instead of ~40 py4j calls.
    # concat_ws == the old array_join: the minhash columns are never null
    # (every emitted doc has >= 1 shingle, so each MIN aggregates >= 1 row).
    band_structs = ", ".join(
        "named_struct('band', {b}, 'band_key', concat_ws('_', {cols}))".format(
            b=b,
            cols=", ".join(
                f"CAST(m{b * rows_per_band + r} AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    bands = wide.selectExpr(
        "doc_id", f"explode(ARRAY({band_structs})) AS bk"
    ).selectExpr("doc_id", "bk.band AS band", "bk.band_key AS band_key")
    # r6 rewrite (guide §2.4): group each band bucket into its member list —
    # the bucket-size cap becomes a size filter on the group (the old
    # separate hot-set aggregation + broadcast anti-join + bucket self-join
    # were two extra exchanges and a blocking broadcast job) — then emit the
    # candidate pairs MAP-SIDE from each (bounded, <= LSH_BUCKET_CAP) list
    # via a double explode. Per-bucket fan-out stays bounded by the same
    # cap^2; no band row is shuffled more than once.
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list("doc_id").alias("ds"))
        .where(F.size("ds") <= LSH_BUCKET_CAP)
        .select("ds")
    )
    return (
        buckets.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def dedup_lsh_clusters(spark, sf_dir):
    """Near-dup CLUSTER RESOLUTION — the step after candidate generation in
    a real training-data dedup: LSH candidate pairs → connected components →
    one representative (min doc_id) per cluster, every document labeled
    (doc_id, cluster_rep, cluster_size, is_rep). Downstream keeps
    `is_rep` rows: one survivor per near-dup family, singletons untouched.

    Scale shape: the CC iterations (canonicalize.connected_components_long,
    large-star/small-star, O(log d) rounds) run on the EDGE set — bounded by
    the banding caps at candidate-pair scale, never the corpus. The corpus
    then takes ONE hash join against the (clustered-docs-only) component map
    and a broadcast join against the (cluster-count-sized) size table;
    singleton sizes are literal 1s, so no corpus-wide aggregation happens.
    """
    from ..pipeline.canonicalize import connected_components_long

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = lsh_candidate_pairs(spark, sf_dir)
    comp = connected_components_long(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).select(F.col("u").alias("doc_id"), F.col("root").alias("cluster_rep"))
    sizes = comp.groupBy("cluster_rep").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        docs.join(comp, "doc_id", "left")
        .withColumn(
            "cluster_rep", F.coalesce("cluster_rep", F.col("doc_id"))
        )
        .join(F.broadcast(sizes), "cluster_rep", "left")
        .select(
            "doc_id",
            "cluster_rep",
            F.coalesce("cluster_size", F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster_rep")).alias("is_rep"),
        )
    )


LSH_SQL = f"""
WITH {SHINGLES_SQL},
sigs AS ({_MINHASH_PARTS}),
bands_raw AS (
  SELECT doc_id, CAST(FLOOR(h_idx / {N_MINHASH // N_BANDS}) AS INT) AS band,
         STRING_AGG(CAST(minhash AS VARCHAR), '_' ORDER BY h_idx) AS band_key
  FROM sigs GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, band, band_key FROM bands_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {LSH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


# Oracle for dedup_lsh_clusters: the LSH pair query verbatim as a nested CTE
# (a CTE body may itself be a WITH query), then min-label propagation as a
# recursive CTE. The `r.lbl < e.dst` prune is sound for the final MIN: a
# label l >= dst dropped at node dst is dominated — dst's own seed label is
# smaller and reaches everything l would reach through dst. UNION (not ALL)
# bounds the recursion to the finite (node, label) pair set.
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
pairs AS ({LSH_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
  WHERE r.lbl < e.dst
),
comp AS (SELECT doc_id, MIN(lbl) AS cluster_rep FROM reach GROUP BY doc_id)
SELECT doc_id, cluster_rep,
       CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size,
       doc_id = cluster_rep AS is_rep
FROM comp
"""


# ----------------------------------------------------------------- SimHash
# 64 bits — the production width (a 16-bit space saturates at ~2^8 docs by
# birthday collision; 64-bit SimHash is the standard near-dup fingerprint).
# The portable hash is 60 bits (15 hex chars of md5), so two independently
# salted hashes each contribute 32 bits.
N_SIMHASH_BITS = 64


def _simhash_term(j: int) -> int:
    """Signed long encoding of bit j: bit 63 is the two's-complement sign
    bit, so it contributes -(2^63) — the arithmetic stays in BIGINT range
    on both engines (no unsigned 64-bit type in either)."""
    return (1 << j) if j < 63 else -(1 << 63)


def _simhash_packed_lane(j: int) -> tuple[str, int]:
    """Bit j's (hash column, shift) — lo hash covers bits 0-31, hi 32-63."""
    return ("h_lo", j) if j < 32 else ("h_hi", j - 32)


def simhash_fingerprints(spark, sf_dir):
    """64-bit SimHash over term frequencies: bit j set iff the tf-weighted
    count of words with bit j set exceeds half the total weight
    (2·c_j > T ⟺ the classic ±tf sum is positive). Map-only per doc after
    one (doc_id, word) tf aggregation.

    Aggregation is BIT-PACKED: two 32-bit lanes per long → 32 packed SUMs +
    one total instead of 64 SUM(CASE) aggregates (the brute-force
    formulation measured ~2.5 s at sf0.1 purely on aggregate width). Lane
    safety is unconditional: each lane holds c_j ≤ T < 2^32 (a single doc
    would need 4 billion words to overflow), lanes are non-negative so no
    cross-lane carry, and the packed long stays < 2^63.

    r6 (guide §2.3/§2.4): the per-(doc, word) tf pre-aggregation is gone —
    c_j = Σ_w tf(w)·bit_j(w) is identically Σ over word OCCURRENCES of
    bit_j(w), so the packed sums aggregate the exploded occurrences
    directly. That removes a whole (doc_id, word)-keyed exchange + second
    aggregate: explode keeps a document's occurrences inside its map
    partition, so partial aggregation collapses them to ONE row per doc per
    partition and the single remaining shuffle carries ~n_docs packed rows
    (vs. every distinct (doc, word) pair). Cost: the two word hashes are
    computed per occurrence instead of per distinct (doc, word) (~2.3× more
    md5 at sf0.1) — far cheaper than the exchange it replaces at every
    scale measured."""
    # All expressions below are built as SQL STRINGS parsed server-side in
    # ONE py4j call per projection/aggregate (r6): the Column-API form of
    # this query cost ~0.5 s of per-invocation DRIVER time purely in py4j
    # round trips + eager re-analysis of the widening plan — more than the
    # query's entire executor time at sf0.1.
    d = _rebalance_scan(spark, _t(spark, sf_dir, "documents"))
    hash_sql = "CAST(CONV(SUBSTRING(MD5(CONCAT('{s}|', w)), 1, 15), 16, 10) AS BIGINT)"
    h = d.selectExpr("doc_id", "explode(split(text, ' ')) AS w").selectExpr(
        "doc_id",
        hash_sql.format(s="s0") + " AS h_lo",
        hash_sql.format(s="s1") + " AS h_hi",
    )

    # branchless packed term per lane pair (r6): bits 2k and 2k+1 of a word
    # live in the SAME 32-bit hash lane, so the pair contribution is plain
    # bit arithmetic ((h>>s)&1) + (((h>>s+1)&1) << 32) — identical values to
    # the old when()-gated form, with no branches in the per-occurrence hot
    # loop.
    def lane_pair(k: int) -> str:
        col, sh = _simhash_packed_lane(2 * k)
        return (
            f"SUM((SHIFTRIGHT({col}, {sh}) & 1) + "
            f"SHIFTLEFT(SHIFTRIGHT({col}, {sh + 1}) & 1, 32)) AS p{k}"
        )

    packed = h.groupBy("doc_id").agg(
        F.expr("COUNT(*) AS t_total"),
        *[F.expr(lane_pair(k)) for k in range(N_SIMHASH_BITS // 2)],
    )
    # unpack + combine in ONE higher-order fold (r6): c_{2k} = p_k &
    # 0xFFFFFFFF, c_{2k+1} = p_k >> 32 (p_k ≥ 0); bit j set iff 2*c_j > T,
    # contributing term_j from a 64-literal lookup array (bit 63 is the
    # negative two's-complement term — see _simhash_term). The old unrolled
    # 64-term when()-chain was ~600 expression nodes; at n_docs rows the
    # fold's per-row interpretation cost is nil while analysis/optimization/
    # codegen of the plan (the dominant warm cost at bench scale) shrinks
    # with the tree. Values are bit-identical: same c_j, same comparison,
    # same summands.
    ps_cols = ", ".join(f"p{k}" for k in range(N_SIMHASH_BITS // 2))
    term_lits = ", ".join(
        f"CAST({_simhash_term(j)} AS BIGINT)" for j in range(N_SIMHASH_BITS)
    )
    mid = packed.selectExpr(
        "doc_id",
        "t_total",
        f"ARRAY({ps_cols}) AS ps",
        f"ARRAY({term_lits}) AS ts",
    )
    sim_sql = (
        "AGGREGATE(SEQUENCE(0, 63), CAST(0 AS BIGINT), (acc, j) -> acc + "
        "CAST(2 * (CASE WHEN j % 2 = 0 "
        "THEN ELEMENT_AT(ps, SHIFTRIGHT(j, 1) + 1) & CAST(4294967295 AS BIGINT) "
        "ELSE SHIFTRIGHT(ELEMENT_AT(ps, SHIFTRIGHT(j, 1) + 1), 32) END) "
        "> t_total AS BIGINT) * ELEMENT_AT(ts, j + 1)) AS simhash"
    )
    return mid.selectExpr("doc_id", sim_sql)


_SIMHASH_BITSUMS = ",\n".join(
    f"SUM(CASE WHEN ({'h_lo' if j < 32 else 'h_hi'} >> {j if j < 32 else j - 32}) & 1 = 1 THEN tf ELSE -tf END) AS b{j}"
    for j in range(N_SIMHASH_BITS)
)
_SIMHASH_COMBINE = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN CAST({_simhash_term(j)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for j in range(N_SIMHASH_BITS)
)
SIMHASH_SQL = f"""
WITH tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY doc_id, w
),
h AS (SELECT doc_id, tf,
        {PORTABLE_HASH_SQL.format(x="CONCAT('s0|', w)")} AS h_lo,
        {PORTABLE_HASH_SQL.format(x="CONCAT('s1|', w)")} AS h_hi
      FROM tf),
bit_sums AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash FROM bit_sums
"""


# -------------------------------------------- embedding cosine (exact sums)
def _cosine_pairs_base(spark, sf_dir, left_filter, right_filter, join_on_label: bool):
    """Shared exact-cosine machinery: explode embeddings, DECIMAL partial
    sums → bit-identical cosines across engines."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    norms = ex.groupBy("vec_id").agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,14)")).alias("nsq")
    )
    a = ex.where(left_filter).select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"), "i", F.col("x").alias("xa")
    )
    b = ex.where(right_filter).select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"), "i", F.col("x").alias("xb")
    )
    dots = (
        a.join(b, on="i")
        .where(
            (F.col("label_a") == F.col("label_b")) if join_on_label else F.lit(True)
        )
        .where(F.col("vec_a") < F.col("vec_b") if join_on_label else F.lit(True))
        .groupBy("vec_a", "vec_b")
        .agg(F.sum((F.col("xa") * F.col("xb")).cast("decimal(28,14)")).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("vec_a"), F.col("nsq").alias("nsq_a"))
    nb = norms.select(F.col("vec_id").alias("vec_b"), F.col("nsq").alias("nsq_b"))
    return (
        dots.join(na, "vec_a")
        .join(nb, "vec_b")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / F.sqrt(F.col("nsq_a").cast("double") * F.col("nsq_b").cast("double")),
        )
    )


def embedding_cosine_pairs(spark, sf_dir):
    """Near-dup by embedding cosine >= 0.3 within label buckets (the bucketed
    variant of all-pairs similarity: label plays the coarse-quantizer role)."""
    sampled = F.col("vec_id") % 5 == 0
    out = _cosine_pairs_base(spark, sf_dir, sampled, sampled, join_on_label=True)
    return out.where(F.col("cosine") >= 0.3).select("vec_a", "vec_b", "cosine")


COSINE_PAIRS_SQL = """
WITH ex AS (
  SELECT vec_id, label, UNNEST(embedding)::DOUBLE AS x,
         UNNEST(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, SUM(CAST(x*x AS DECIMAL(28,14))) AS nsq FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         SUM(CAST(a.x * b.x AS DECIMAL(28,14))) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
  WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0
  GROUP BY 1, 2
)
SELECT vec_a, vec_b,
  CAST(dot AS DOUBLE) / SQRT(CAST(na.nsq AS DOUBLE) * CAST(nb.nsq AS DOUBLE)) AS cosine
FROM dots JOIN norms na ON vec_a = na.vec_id JOIN norms nb ON vec_b = nb.vec_id
WHERE CAST(dot AS DOUBLE) / SQRT(CAST(na.nsq AS DOUBLE) * CAST(nb.nsq AS DOUBLE)) >= 0.3
"""


def _packed_dot(a, b):
    """DECIMAL-exact dot product over PACKED array<double> columns — the
    map-side formulation of the exploded SUM(CAST(x*y AS DECIMAL(28,14)))
    the oracle computes: zip_with multiplies element-wise (each product one
    correctly-rounded IEEE op), each term is cast to DECIMAL(28,14), and the
    aggregate fold adds decimals (exact, so the result equals the exploded
    SUM bit for bit regardless of order). The per-step cast pins Spark's
    decimal-widening back to the accumulator type — identity here (partial
    sums are far inside 14 integer digits). NULL terms are folded as 0 —
    exactly SQL SUM's skip-NULL semantics, where a bare `acc + NULL` would
    instead poison the whole fold."""
    prod = F.zip_with(a, b, lambda x, y: (x * y).cast("decimal(28,14)"))
    return F.aggregate(
        prod,
        F.lit(0).cast("decimal(28,14)"),
        lambda acc, v: (
            acc + F.coalesce(v, F.lit(0).cast("decimal(28,14)"))
        ).cast("decimal(28,14)"),
    )


def _packed_vectors(spark, sf_dir):
    """Packed-vector relation for ann_topk_cosine's zip_with scoring:
    vec_id, the array<double> vector, and its DECIMAL norm — with EMPTY
    vectors dropped, matching the exploded oracle (UNNEST of an empty array
    yields no rows, so the vector never reaches the norm/dot relations
    there; the packed fold would instead keep it with nsq = 0 and divide by
    zero).

    r6: the embeddings table is conditionally fanned out to the session's
    core count (guide §2.5 input-skew note — the testdata parquet is a
    single row group, so the scan yields ONE task and every decimal
    dot-product fold below it ran serially; the repartition triggers only
    when the source supplies fewer splits than cores, so a large table
    gains no exchange)."""
    from .relational import _t as _tbl

    e = _rebalance_scan(
        spark, _tbl(spark, sf_dir, "embeddings"), "vec_id"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    return e.where(F.size("emb") > 0).withColumn(
        "nsq", _packed_dot(F.col("emb"), F.col("emb"))
    )


def _packed_cosine(ea, eb, na, nb):
    """The shared exact-cosine expression over packed vectors: DECIMAL dot
    cast to double over the correctly-rounded sqrt of the norm product —
    identical tree to the exploded oracles' final projection."""
    return _packed_dot(ea, eb).cast("double") / F.sqrt(
        na.cast("double") * nb.cast("double")
    )


def ann_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for query vectors (vec_id < 5) —
    the exact baseline an IVF/LSH ANN index is validated against. Cosines are
    decimal-exact, so ranking is deterministic (cosine desc, vec_b asc).

    Physical path (r5): PACKED vectors with a zip_with/aggregate DECIMAL dot
    (F.zip_with + F.aggregate — whole-stage-codegen array HOFs), the query
    set riding as a tiny broadcast — the whole scoring pass is MAP-SIDE over
    the DB partition (zero exchanges before the top-k window). The previous
    exploded formulation shuffled a dim× long-form relation through an
    equi-join on the dimension index; at corpus scale that was dim× exchange
    volume for the same exact arithmetic (the oracle still computes the
    exploded SUM — _packed_dot is bit-equal by decimal exactness)."""
    e = _packed_vectors(spark, sf_dir)
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nsq").alias("nsq_q"),
    )
    n = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("nemb"),
        F.col("nsq").alias("nsq_n"),
    )
    cos = n.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        _packed_cosine(
            F.col("qemb"), F.col("nemb"), F.col("nsq_q"), F.col("nsq_n")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


ANN_SQL = """
WITH ex AS (
  SELECT vec_id, UNNEST(embedding)::DOUBLE AS x,
         UNNEST(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, SUM(CAST(x*x AS DECIMAL(28,14))) AS nsq FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         SUM(CAST(a.x * b.x AS DECIMAL(28,14))) AS dot
  FROM ex a JOIN ex b ON a.i = b.i
  WHERE a.vec_id < 5 AND b.vec_id >= 5
  GROUP BY 1, 2
),
cos AS (
  SELECT vec_a, vec_b,
    CAST(dot AS DOUBLE) / SQRT(CAST(na.nsq AS DOUBLE) * CAST(nb.nsq AS DOUBLE)) AS cosine
  FROM dots JOIN norms na ON vec_a = na.vec_id JOIN norms nb ON vec_b = nb.vec_id
)
SELECT vec_a AS query_id, vec_b AS neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a ORDER BY cosine DESC, vec_b ASC) AS rank
  FROM cos
) WHERE rank <= 3
"""


N_IVF_CENTROIDS = 8


def _seed_centroid_ids(e: DataFrame, k: int) -> DataFrame:
    """The k seed-centroid vectors = the k HIGHEST vec_ids, by RANK — not an
    id-range predicate, which under-selects when the top ids are not
    contiguous (exactly what an upstream dedup/sample pass produces).
    orderBy+limit compiles to TakeOrderedAndProject (parallel partial top-k,
    no global sort); the row_number window then runs over the k-row result
    only. cent_id numbering (highest id → k-1) matches the previous
    contiguous-range derivation on gap-free tables."""
    seeds = e.select("vec_id").orderBy(F.desc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("vec_id"))
    return seeds.select(
        "vec_id", (F.lit(k) - F.row_number().over(w)).cast("int").alias("cent_id")
    )


SEED_IDS_SQL_TMPL = """
  SELECT vec_id, CAST({k} - ROW_NUMBER() OVER (ORDER BY vec_id DESC) AS INT) AS cent_id
  FROM embeddings ORDER BY vec_id DESC LIMIT {k}
"""


def _centroid_cosine_ranked(
    ex: DataFrame, norms: DataFrame, cent: DataFrame
) -> DataFrame:
    """cosine(vector, centroid) for every vector against every centroid in
    `cent` — a (cent_id, i, cx) long-form relation (seed vectors or
    kmeans-trained means alike) — ranked per vector (crank=1 ⇒ nearest).
    Shared by the IVF index (mlops.ann_ivf_topk, trained centroids) and the
    SemDeDup clusterer (mlops.semdedup_keep, seed centroids). The centroid
    side is k×dim — broadcast at any corpus scale; its norms are DECIMAL
    partial sums (order-independent, so seed-centroid norms equal the
    corpus-norm rows they duplicate bit for bit)."""
    cnorms = cent.groupBy("cent_id").agg(
        F.sum((F.col("cx") * F.col("cx")).cast("decimal(28,14)")).alias("cnsq")
    )
    vc = (
        ex.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cent_id")
        .agg(F.sum((F.col("x") * F.col("cx")).cast("decimal(28,14)")).alias("dot"))
        .join(norms, "vec_id")
        .join(F.broadcast(cnorms), "cent_id")
        .withColumn(
            "ccos",
            F.col("dot").cast("double")
            / F.sqrt(F.col("nsq").cast("double") * F.col("cnsq").cast("double")),
        )
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    return vc.withColumn("crank", F.row_number().over(wv))


# ------------------------------------------------------------ text analysis
def lang_id_heuristic(spark, sf_dir):
    """n-gram/stopword language heuristic: English function-word density."""
    d = _t(spark, sf_dir, "documents")
    n_stop = (
        F.regexp_count(F.col("text"), F.lit(r"\bthe\b"))
        + F.regexp_count(F.col("text"), F.lit(r"\ba\b"))
    )
    n_words = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        n_stop.alias("n_stopwords"),
        n_words.alias("n_words"),
        (n_stop.cast("double") / n_words).alias("stopword_ratio"),
        F.when(n_stop.cast("double") / n_words >= 0.05, "en")
        .otherwise("unk")
        .alias("lang_guess"),
    )


LANG_ID_SQL = r"""
SELECT doc_id,
  len(regexp_extract_all(text, '\bthe\b')) + len(regexp_extract_all(text, '\ba\b')) AS n_stopwords,
  len(string_split(text, ' ')) AS n_words,
  CAST(len(regexp_extract_all(text, '\bthe\b')) + len(regexp_extract_all(text, '\ba\b')) AS DOUBLE)
    / len(string_split(text, ' ')) AS stopword_ratio,
  CASE WHEN CAST(len(regexp_extract_all(text, '\bthe\b')) + len(regexp_extract_all(text, '\ba\b')) AS DOUBLE)
    / len(string_split(text, ' ')) >= 0.05 THEN 'en' ELSE 'unk' END AS lang_guess
FROM documents
"""


def quality_scores(spark, sf_dir):
    """Quality scoring: length, mean word length, alpha ratio → composite."""
    d = _t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_words = F.size(F.split("text", " "))
    n_alpha = F.length(F.regexp_replace("text", r"[^a-z]", ""))
    awl = (n_chars - n_words + 1).cast("double") / n_words
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_alpha.alias("n_alpha"),
        awl.alias("avg_word_len"),
        (n_alpha.cast("double") / n_chars).alias("alpha_ratio"),
    )


QUALITY_SQL = """
SELECT doc_id, LENGTH(text) AS n_chars,
  len(string_split(text, ' ')) AS n_words,
  LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS n_alpha,
  CAST(LENGTH(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
    / len(string_split(text, ' ')) AS avg_word_len,
  CAST(LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS DOUBLE) / LENGTH(text) AS alpha_ratio
FROM documents
"""


def token_counts(spark, sf_dir):
    """Token counting: whitespace words + BPE-ish alnum-run tokens (C2)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_words"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).alias("n_tokens"),
    )


TOKEN_SQL = """
SELECT doc_id, len(string_split(text, ' ')) AS n_words,
  len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens
FROM documents
"""


def doc_fingerprints(spark, sf_dir):
    """Document fingerprinting (C11-style md5 + portable 60-bit hash)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        _portable_hash(F.col("text")).alias("fingerprint_int"),
        F.sha2(F.col("text"), 256).alias("sha"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id, MD5(text) AS fingerprint,
  {PORTABLE_HASH_SQL.format(x='text')} AS fingerprint_int,
  SHA256(text) AS sha
FROM documents
"""


CHUNK_WORDS = 16  # non-overlapping span width for duplicate-span detection


def dup_span_fraction(spark, sf_dir):
    """Span-level (sub-document) duplication: split each document into
    non-overlapping CHUNK_WORDS-word spans, hash every span, count each
    hash corpus-wide, and report per document how many of its spans occur
    more than once anywhere in the corpus — the MassiveText/CCNet-style
    paragraph-dedup signal that document-level dedup (dedup_exact /
    LSH) misses: boilerplate headers, license blocks and templated
    passages shared across otherwise-distinct documents.

    Scale shape: spans explode to ~corpus token size once; the hash count
    is one map-side-combinable groupBy on the span hash; the dup flag
    rejoins on the same hash key; the per-doc rollup shuffles on doc_id.
    Nothing is all-pairs and no span list ever sits on the driver.
    Exactness: md5 hex + integer counts; the final fraction is one IEEE
    double division of two BIGINTs (bit-identical across engines).

    Spark traps honored: `words` is bound in its OWN projection (a split()
    inlined into the transform lambda re-evaluates per element — O(words²)
    per row), and the chunk count is >= 1 by construction (split('') is
    ['']) so the DESCENDING sequence(0, -1) edge never fires."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    nch = F.expr(f"(size(words) + {CHUNK_WORDS - 1}) DIV {CHUNK_WORDS}")
    chunks = w.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), (nch - 1).cast("int")),
            lambda i: F.array_join(
                F.slice("words", i * CHUNK_WORDS + 1, CHUNK_WORDS), " "
            ),
        ).alias("chunks"),
    )
    spans = chunks.select(
        "doc_id", F.explode("chunks").alias("chunk")
    ).select("doc_id", F.md5("chunk").alias("h"))
    counts = spans.groupBy("h").agg(F.count("*").alias("cnt"))
    return (
        spans.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
                "dup_frac"
            ),
        )
    )


DUP_SPAN_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
spans AS (
  SELECT doc_id,
         MD5(array_to_string(
           list_slice(words, i*{CHUNK_WORDS}+1, i*{CHUNK_WORDS}+{CHUNK_WORDS}),
           ' ')) AS h
  FROM w, UNNEST(generate_series(
    0, (len(words) + {CHUNK_WORDS - 1}) // {CHUNK_WORDS} - 1)) AS t(i)
),
counts AS (SELECT h, COUNT(*) AS cnt FROM spans GROUP BY h)
SELECT s.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
  CAST(SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
FROM spans s JOIN counts c USING (h)
GROUP BY s.doc_id
"""


# PII patterns shared verbatim by both engines: Java regex and DuckDB RE2
# agree on these constructs (char classes, bounded repetition; no
# backreferences or lookaround, which RE2 lacks)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^ ]+"
PII_LONGNUM = r"[0-9]{7,}"


def redact_pii(spark, sf_dir):
    """PII scrubbing — the pre-training hygiene pass that strips emails,
    URLs and long digit runs (phone/account numbers) before text enters a
    training mix: per-document match counts plus the redacted text with
    typed placeholders. Map-only JVM regexp chain (no shuffle, no Python);
    order matters — emails first (their hosts would otherwise be eaten by
    the URL rule), then URLs, then long numbers.

    The synthetic corpus is PII-free by construction, so on the sf tables
    this is an (oracled) identity map; the operator's behavior on real PII
    is pinned by tests/test_textops fixtures with crafted emails/URLs/
    numbers through the same plan."""
    d = _t(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL, "<EMAIL>"),
            PII_URL,
            "<URL>",
        ),
        PII_LONGNUM,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_URL)).cast("long").alias("n_urls"),
        F.regexp_count("text", F.lit(PII_LONGNUM)).cast("long").alias("n_longnums"),
        red.alias("text_redacted"),
    )


REDACT_SQL = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{PII_URL}')) AS BIGINT) AS n_urls,
  CAST(len(regexp_extract_all(text, '{PII_LONGNUM}')) AS BIGINT) AS n_longnums,
  regexp_replace(regexp_replace(regexp_replace(
    text, '{PII_EMAIL}', '<EMAIL>', 'g'),
    '{PII_URL}', '<URL>', 'g'),
    '{PII_LONGNUM}', '<NUM>', 'g') AS text_redacted
FROM documents
"""


def stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — the data-MIXING primitive of a
    training corpus: per-stratum (source) rates, membership decided by a
    portable content-independent hash of the doc id, NOT rand(). Map-only
    (no shuffle) and bit-reproducible on any cluster size, any retry, any
    engine — reproducible mixtures are a lineage requirement that
    `TABLESAMPLE`/`sampleBy` (seeded per-partition RNG, partition-layout
    dependent) cannot give. Rates here are a deterministic function of the
    source id (25..70%) standing in for a mixing config table."""
    d = _t(spark, sf_dir, "documents")
    # try_cast, not cast: ANSI mode CRASHES on a digit-less source (''), and
    # the DuckDB oracle uses TRY_CAST for the same reason — both engines
    # silently drop such rows via NULL-comparison semantics instead
    src_num = F.regexp_extract("source", r"(\d+)", 1).try_cast("int")
    rate = (F.lit(25) + F.lit(5) * F.pmod(src_num, F.lit(10))).cast("int")
    h100 = F.pmod(
        _portable_hash(
            F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))
        ),
        F.lit(100),
    )
    return d.where(h100 < rate).select(
        "doc_id", "source", "lang", rate.alias("rate_pct")
    )


_SAMP_HASH = PORTABLE_HASH_SQL.format(
    x="CONCAT('samp|', CAST(doc_id AS VARCHAR))"
)
# TRY_CAST, not CAST: a digit-less source gives regexp_extract '' — Spark's
# cast('int') NULLs it (row silently dropped by the NULL comparison), DuckDB's
# strict CAST would CRASH instead of matching that drop (engine/oracle parity)
STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, source, lang,
  CAST(25 + 5 * (TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 10)
       AS INT) AS rate_pct
FROM documents
WHERE {_SAMP_HASH} % 100
      < 25 + 5 * (TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 10)
"""


# --------------------------------------------------------------- multimodal
def multimodal_bytes(spark, sf_dir):
    """Multimodal byte-plumbing: opaque binary payload + typed metadata."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.substring(F.hex(F.encode(F.col("text"), "utf-8")), 1, 16).alias("hex_prefix"),
    )


MULTIMODAL_SQL = """
SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS n_bytes,
  SUBSTR(UPPER(HEX(ENCODE(text))), 1, 16) AS hex_prefix
FROM documents
"""


def tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF, top-3 terms per document — the per-doc salient-term
    extraction step of a training-data pipeline (rational-idf variant:
    score = tf * (N/df) with exact-rounded IEEE double ops only, because
    ln() is NOT bit-identical across libms and would break cross-engine
    hash parity). NOTE this is a deliberately different weighting than
    log-idf, not an equivalent one: per-term idf → ln(idf) is monotone,
    but multiplying by tf breaks cross-term order (rational idf upweights
    rare terms relative to the log variant). It is a valid salience score
    whose virtue here is bit-exact reproducibility on any engine.

    Scale shape: tf = one (doc_id, term)-keyed agg with map-side combine;
    df = one term-keyed agg OVER THE tf RELATION (doc×term scale, already
    deduped — never re-scans the corpus); N rides as a 1-row broadcast; the
    tf⋈df join is 1:1 per tf row (no fan-out — each (doc, term) row picks up
    exactly one df), so a hot stopword only skews reducer placement, which
    AQE skew-join splits; top-3/doc is a WindowGroupLimit partial before the
    exchange."""
    d = _rebalance_scan(spark, _t(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w_ = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w_))
        .where(F.col("rank") <= 3)
        .select("doc_id", F.col("w").alias("term"), "tf", "df", "tfidf", "rank")
    )


TFIDF_SQL = """
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, w AS term, tf, df, tf * (CAST(n_docs AS DOUBLE) / df) AS tfidf, rank
FROM (
  SELECT t.doc_id, t.w, t.tf, d.df, n.n_docs,
         ROW_NUMBER() OVER (
           PARTITION BY t.doc_id
           ORDER BY t.tf * (CAST(n.n_docs AS DOUBLE) / d.df) DESC, t.w ASC
         ) AS rank
  FROM tf t JOIN dfreq d USING (w) CROSS JOIN n
)
WHERE rank <= 3
"""


# ------------------------------------------------------------ BM25 retrieval
# Fixed lexical query for the ranking demonstration (terms present in the
# synthetic vocabulary; any query list works — it becomes a broadcast-sized
# IN filter). k1 = 1.2, b = 0.75 (the standard Robertson defaults), written
# as pre-folded literals so BOTH engines evaluate the identical IEEE
# expression tree (no engine-side constant folding can reorder ops).
BM25_QUERY = ("spark", "join", "vector")


def bm25_rank(spark, sf_dir):
    """BM25 document ranking for a fixed lexical query — the retrieval
    scorer beside tfidf_top_terms (salience) and the embedding ANN ops
    (semantic): score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    Rational-idf variant idf = (N−df+0.5)/(df+0.5) — same reasoning as
    tfidf_top_terms: ln() is not bit-identical across libms, while this
    form is a fixed tree of single IEEE ops over exact integers (it is the
    BM25 idf WITHOUT the log — monotone in the classic idf per term, a
    different but valid weighting documented here deliberately).

    Scale shape: dl/tf are map-side-combinable aggs over one corpus scan;
    the query filter cuts the tf relation to |Q| terms BEFORE df and the
    joins (the tf⋈df join carries query terms only); corpus N and Σdl ride
    as a 1-row broadcast; final per-doc sum is one combinable agg. Nothing
    is query-length-quadratic and no global sort exists — top-k consumers
    add a WindowGroupLimit like tfidf does.

    Exactness: every per-term score is the same parenthesized chain of
    IEEE double ops on exact integers in both engines; the cross-term sum
    quantizes each term to 1e-12 via floor(x*1e12 + 0.5) — HALF_UP FLOOR is
    bit-identical across both runtimes (double→DECIMAL casts are NOT: the
    engines round the repr differently at the last ulp, measured 1e-14
    drift at sf0.01) — then sums exact BIGINTs (associative,
    layout-independent) and divides once at the end.

    Reference anchor: the reference ranks candidate evidence sentences per
    claim before entailment (ProVe sentence selection,
    `utils/sentence_retrieval_module.py`); this is its lexical twin over
    the documents relation."""
    d = _rebalance_scan(spark, _t(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qtf = (
        words.where(F.col("w").isin(*BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    qdf = qtf.groupBy("w").agg(F.count("*").alias("df"))
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25)
        + F.lit(0.75)
        * (F.col("dl") / (F.col("sum_dl").cast("double") / F.col("n_docs")))
    )
    scored = (
        qtf.join(qdf, "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("score_t", idf * ((F.col("tf") * F.lit(2.2)) / denom))
    )
    quant = F.floor(F.col("score_t") * F.lit(1.0e12) + F.lit(0.5))
    return (
        scored.withColumn("score_q", quant)
        .groupBy("doc_id")
        .agg(
            (F.sum("score_q") / F.lit(1.0e12)).alias("bm25"),
            F.count("*").alias("n_terms_matched"),
            F.sum("tf").alias("n_occurrences"),
        )
    )


# e0-suffixed literals are load-bearing: a bare 1.2 parses as DECIMAL(2,1)
# in DuckDB and decimal arithmetic would diverge from Spark's double tree.
BM25_SQL = f"""
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
qtf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM words
  WHERE w IN ({", ".join("'" + t + "'" for t in BM25_QUERY)})
  GROUP BY doc_id, w
),
qdf AS (SELECT w, COUNT(*) AS df FROM qtf GROUP BY w),
scored AS (
  SELECT t.doc_id, t.tf,
         ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5e0)
            / (CAST(f.df AS DOUBLE) + 0.5e0))
         * ((t.tf * 2.2e0)
            / (t.tf + 1.2e0 * (0.25e0 + 0.75e0
                 * (l.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))) AS score_t
  FROM qtf t JOIN qdf f USING (w) JOIN dl l USING (doc_id) CROSS JOIN stats s
)
SELECT doc_id,
       CAST(SUM(CAST(FLOOR(score_t * 1.0e12 + 0.5e0) AS BIGINT)) AS BIGINT)
         / 1.0e12 AS bm25,
       COUNT(*) AS n_terms_matched,
       CAST(SUM(tf) AS BIGINT) AS n_occurrences
FROM scored GROUP BY doc_id
"""


def dedup_keep_best(spark, sf_dir):
    """Near-dup survivor selection by QUALITY — the keep policy a real
    training-data dedup applies after cluster resolution: within each LSH
    near-dup cluster keep the highest-quality copy (alpha_ratio DESC, then
    n_chars DESC, then doc_id ASC — a total order), not the arbitrary
    min-id representative [dedup_lsh_clusters] emits. Every document is
    labeled (cluster, size, quality, keep); downstream filters keep=true.

    Scale shape: composes the two oracled stages on the doc_id spine (one
    1:1 hash join — no fan-out), then ONE exchange keyed on cluster_rep for
    the ranking window; the per-partition sort is bounded by the largest
    cluster (banding caps bound that upstream), and singleton clusters
    degenerate to pass-through partitions. A per-cluster max_by reduction
    would cost the identical exchange, so the window is not a scale
    liability here."""
    clusters = dedup_lsh_clusters(spark, sf_dir)
    q = quality_scores(spark, sf_dir).select(
        "doc_id", "alpha_ratio", "n_chars"
    )
    joined = clusters.select("doc_id", "cluster_rep", "cluster_size").join(
        q, "doc_id"
    )
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("alpha_ratio"), F.desc("n_chars"), F.asc("doc_id")
    )
    return joined.withColumn("rk", F.row_number().over(w)).select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        "alpha_ratio",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("rk") == 1).alias("keep"),
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH clusters AS ({DEDUP_CLUSTERS_SQL}),
qual AS (
  SELECT doc_id, n_chars, alpha_ratio FROM ({QUALITY_SQL})
)
SELECT c.doc_id, c.cluster_rep, c.cluster_size, q.alpha_ratio,
       CAST(q.n_chars AS BIGINT) AS n_chars,
       ROW_NUMBER() OVER (
         PARTITION BY c.cluster_rep
         ORDER BY q.alpha_ratio DESC, q.n_chars DESC, c.doc_id ASC
       ) = 1 AS keep
FROM clusters c JOIN qual q USING (doc_id)
"""


# RRF constants: the standard k=60 damping (Cormack et al. 2009) and a
# fixed fusion depth (RRF is defined over top-k lists, not full rankings).
RRF_K = 60
RRF_DEPTH = 50
RRF_QUERY_VEC = 0  # the semantic query: embeddings.vec_id == doc_id companion


def rrf_hybrid_rank(spark, sf_dir):
    """Hybrid retrieval by reciprocal-rank fusion: the lexical ranking
    ([bm25_rank] for the fixed BM25_QUERY) and the semantic ranking (exact
    DECIMAL cosine against the fixed query embedding RRF_QUERY_VEC;
    embeddings.vec_id is the doc_id companion column) fused as
    rrf = Σ_list 1/(RRF_K + rank), missing-from-list contributing 0 — the
    standard hybrid-search merge (ranks only, so the two scores' scales
    never need calibrating; 1/(60+r) is a single correctly-rounded IEEE
    division, unlike score normalization's log/exp).

    Scale shape: each list ends in orderBy().limit(RRF_DEPTH) — a
    TakeOrderedAndProject (parallel partial top-k, NO global sort); the
    row_number windows and the full-outer fusion join then run on ≤ DEPTH
    rows per side, so every post-candidate stage is k-bounded, not
    corpus-bounded. Ranks are coalesced to 0 (= absent) so the output is
    all-BIGINT + one double."""
    lex_order = [F.desc("bm25"), F.asc("doc_id")]
    # the query's companion doc (vec_id == doc_id contract) is excluded
    # from BOTH lists — it IS the query; leaving it in the lexical list
    # only would under-score the one doc most similar to the semantic query
    lex = (
        bm25_rank(spark, sf_dir)
        .where(F.col("doc_id") != RRF_QUERY_VEC)
        .orderBy(*lex_order)
        .limit(RRF_DEPTH)
        .withColumn("r_lex", F.row_number().over(Window.orderBy(*lex_order)))
        .select("doc_id", "r_lex")
    )
    sem_base = _cosine_pairs_base(
        spark,
        sf_dir,
        F.col("vec_id") == RRF_QUERY_VEC,
        F.col("vec_id") != RRF_QUERY_VEC,
        join_on_label=False,
    ).select(F.col("vec_b").alias("doc_id"), "cosine")
    sem_order = [F.desc("cosine"), F.asc("doc_id")]
    sem = (
        sem_base.orderBy(*sem_order)
        .limit(RRF_DEPTH)
        .withColumn("r_sem", F.row_number().over(Window.orderBy(*sem_order)))
        .select("doc_id", "r_sem")
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("r_lex", F.lit(0)).cast("long").alias("r_lex"),
            F.coalesce("r_sem", F.lit(0)).cast("long").alias("r_sem"),
        )
        .withColumn(
            "rrf_score",
            F.when(
                F.col("r_lex") == 0, F.lit(0.0)
            ).otherwise(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")))
            + F.when(
                F.col("r_sem") == 0, F.lit(0.0)
            ).otherwise(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_sem"))),
        )
    )
    return fused.withColumn(
        "fused_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("rrf_score"), F.asc("doc_id")))
        .cast("long"),
    )


RRF_SQL = f"""
WITH bm AS ({BM25_SQL}),
lexr AS (
  SELECT doc_id, r_lex FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_lex
    FROM bm WHERE doc_id <> {RRF_QUERY_VEC}) WHERE r_lex <= {RRF_DEPTH}),
ex AS (
  SELECT vec_id, UNNEST(embedding)::DOUBLE AS x,
         UNNEST(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, SUM(CAST(x*x AS DECIMAL(28,14))) AS nsq
          FROM ex GROUP BY vec_id),
dots AS (
  SELECT b.vec_id AS doc_id, SUM(CAST(a.x * b.x AS DECIMAL(28,14))) AS dot
  FROM ex a JOIN ex b ON a.i = b.i
  WHERE a.vec_id = {RRF_QUERY_VEC} AND b.vec_id <> {RRF_QUERY_VEC}
  GROUP BY 1
),
cos AS (
  SELECT d.doc_id,
    CAST(d.dot AS DOUBLE)
      / SQRT(CAST(nq.nsq AS DOUBLE) * CAST(nd.nsq AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms nd ON d.doc_id = nd.vec_id
  CROSS JOIN (SELECT nsq FROM norms WHERE vec_id = {RRF_QUERY_VEC}) nq
),
semr AS (
  SELECT doc_id, r_sem FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS r_sem
    FROM cos) WHERE r_sem <= {RRF_DEPTH}),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         CAST(COALESCE(l.r_lex, 0) AS BIGINT) AS r_lex,
         CAST(COALESCE(s.r_sem, 0) AS BIGINT) AS r_sem
  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id),
scored AS (
  SELECT doc_id, r_lex, r_sem,
         (CASE WHEN r_lex = 0 THEN 0.0e0
               ELSE CAST(1 AS DOUBLE) / ({RRF_K} + r_lex) END
          + CASE WHEN r_sem = 0 THEN 0.0e0
                 ELSE CAST(1 AS DOUBLE) / ({RRF_K} + r_sem) END) AS rrf_score
  FROM fused)
SELECT doc_id, r_lex, r_sem, rrf_score,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT)
         AS fused_rank
FROM scored
"""


# -------------------------------------------------------- token co-occurrence
# df band for PMI-style co-occurrence: tokens appearing in fewer than MIN_DF
# docs carry no statistical signal; tokens above the MAX_DF fraction are
# stopword-class and would make the per-doc pair fan-out quadratic in the
# document length (the classic d² hub problem — same discipline as
# dedup_ngram_jaccard's shingle df cap). The bound is integer-exact:
# NUM*df <= DEN*n_docs, no float comparison. The cap of record here is 90%
# because the synthetic corpus has a 31-token vocabulary sitting almost
# entirely in 75-85% of documents (a real web corpus tightens this to the
# 40%-class stopword cut); what the oracle pins is the cap MACHINERY —
# tokens above it provably never enter the self-join.
PMI_MIN_DF = 4
PMI_MAX_DF_NUM = 9  # df * 10 <= 9 * n_docs  ⇔  df <= 90% of docs
PMI_MAX_DF_DEN = 10
PMI_MIN_PAIR = 2


def token_pmi(spark, sf_dir):
    """Token co-occurrence association (PMI-style lift) over the corpus:
    for every in-band token pair co-occurring in >= PMI_MIN_PAIR documents,
    lift = P(x,y) / (P(x)P(y)) = pair_count * N / (df_x * df_y) — the
    collocation-mining step of a corpus analysis pipeline (PMI itself is
    ln(lift); the log is dropped deliberately because ln() is not
    bit-identical across libms — lift is monotone in PMI, so thresholds and
    rankings are preserved while the score stays a fixed tree of
    exact-rounded IEEE ops: one int multiply chain, two divisions).

    Scale shape: presence relation (doc, token) is the DEDUPED tf relation
    (one corpus scan, map-side combine); the df band [PMI_MIN_DF, MAX_DF%]
    cuts stopwords BEFORE the self-join, so per-doc pair fan-out is B² with
    B = banded tokens per doc (bounded by the band, not the doc length); the
    pair count is one combinable agg keyed on (t1, t2); N rides as a 1-row
    broadcast. Nothing is vocab² — pairs exist only where a document
    witnesses them.

    Reference anchor: the reference mines sentence/claim co-mention
    signals per evidence page (ProVe sentence retrieval); this is the
    corpus-statistics twin over the documents relation."""
    d = _rebalance_scan(spark, _t(spark, sf_dir, "documents"))
    pres = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    dfreq = pres.groupBy("w").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    banded = (
        pres.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .where(
            (F.col("df") >= PMI_MIN_DF)
            & (F.col("df") * PMI_MAX_DF_DEN <= F.col("n_docs") * PMI_MAX_DF_NUM)
        )
        .select("doc_id", "w", "df", "n_docs")
    )
    a = banded.select("doc_id", F.col("w").alias("t1"), F.col("df").alias("df1"))
    b = banded.select(
        "doc_id", F.col("w").alias("t2"), F.col("df").alias("df2"), "n_docs"
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2", "df1", "df2", "n_docs")
        .agg(F.count("*").alias("pair_count"))
        .where(F.col("pair_count") >= PMI_MIN_PAIR)
    )
    return pairs.select(
        "t1",
        "t2",
        F.col("pair_count").cast("long").alias("pair_count"),
        F.col("df1").cast("long").alias("df1"),
        F.col("df2").cast("long").alias("df2"),
        # fixed left-assoc tree: (double(pair*N) / df1) / df2 — mirrored
        # literally in the oracle so both engines round identically
        (
            (F.col("pair_count") * F.col("n_docs")).cast("double")
            / F.col("df1")
            / F.col("df2")
        ).alias("lift"),
    )


TOKEN_PMI_SQL = f"""
WITH pres AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
dfreq AS (SELECT w, COUNT(*) AS df FROM pres GROUP BY w),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
banded AS (
  SELECT p.doc_id, p.w, f.df, n.n_docs
  FROM pres p JOIN dfreq f USING (w) CROSS JOIN n
  WHERE f.df >= {PMI_MIN_DF}
    AND f.df * {PMI_MAX_DF_DEN} <= n.n_docs * {PMI_MAX_DF_NUM}
),
pairs AS (
  SELECT a.w AS t1, b.w AS t2, a.df AS df1, b.df AS df2, a.n_docs,
         COUNT(*) AS pair_count
  FROM banded a JOIN banded b
    ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2, 3, 4, 5
  HAVING COUNT(*) >= {PMI_MIN_PAIR}
)
SELECT t1, t2, CAST(pair_count AS BIGINT) AS pair_count,
       CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2,
       CAST(pair_count * n_docs AS DOUBLE) / df1 / df2 AS lift
FROM pairs
"""


def _word_ngram_rows(base: DataFrame, n: int) -> DataFrame:
    """Exploded word n-grams (doc_id, g) from a relation carrying a bound
    `ws` array column and its size `nw`. The array MUST be bound in its own
    projection upstream (an inlined split() re-evaluates per element inside
    transform — O(words²) per row). sequence() is guarded with when():
    sequence(1, 0) DESCENDS in Spark instead of returning empty."""
    grams = F.when(
        F.col("nw") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("nw") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.get("ws", i + j - 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select("doc_id", F.explode(grams).alias("g"))


def _split_base(spark, sf_dir) -> DataFrame:
    d = _rebalance_scan(spark, _t(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    return d.select("doc_id", ws.alias("ws"), F.size(ws).alias("nw"))


# Thresholds sit at measured corpus quantiles (top-bigram p95, dup-trigram
# p99 at sf0.001) so the flag splits the corpus non-trivially.
REP_TOP_BIGRAM = 0.08
REP_DUP_TRIGRAM = 0.02


def repetition_flags(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021 §A1.2, adapted to
    the corpus's single-line documents): per-doc fraction of bigram mass in
    the single most frequent bigram, and fraction of trigram occurrences
    that are repeats — the two signals that catch boilerplate/looping text
    which length/alpha quality scores miss.

    Scale shape: each n-gram lane is one explode (corpus × ~len rows) into a
    (doc_id, gram)-keyed agg with map-side combine, then a doc_id-keyed
    rollup — the tf-idf shape, nothing all-pairs. Fractions are single IEEE
    divisions of exact ints (bit-identical cross-engine, no quantization
    needed). Docs too short to have n-grams keep row + zero fractions via
    the left join."""
    base = _split_base(spark, sf_dir)
    btf = _word_ngram_rows(base, 2).groupBy("doc_id", "g").agg(
        F.count("*").alias("c")
    )
    bs = btf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("top_cnt"),
    )
    ttf = _word_ngram_rows(base, 3).groupBy("doc_id", "g").agg(
        F.count("*").alias("c")
    )
    ts = ttf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_trigrams"),
        F.count("*").cast("long").alias("nd_trigrams"),
    )
    top_frac = F.coalesce(
        F.col("top_cnt").cast("double") / F.col("n_bigrams"), F.lit(0.0)
    )
    dup_frac = F.coalesce(
        (F.col("n_trigrams") - F.col("nd_trigrams")).cast("double")
        / F.col("n_trigrams"),
        F.lit(0.0),
    )
    return (
        base.select("doc_id")
        .join(bs, "doc_id", "left")
        .join(ts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            top_frac.alias("top_bigram_frac"),
            F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
            dup_frac.alias("dup_trigram_frac"),
            (
                (top_frac >= REP_TOP_BIGRAM) | (dup_frac >= REP_DUP_TRIGRAM)
            ).alias("repetitive"),
        )
    )


REPETITION_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bidx AS (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 1)) AS i FROM w),
btf AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g, COUNT(*) AS c FROM bidx GROUP BY 1, 2),
bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
              CAST(MAX(c) AS BIGINT) AS top_cnt FROM btf GROUP BY 1),
tidx AS (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 2)) AS i FROM w),
ttf AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g, COUNT(*) AS c
        FROM tidx GROUP BY 1, 2),
ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
              CAST(COUNT(*) AS BIGINT) AS nd_trigrams FROM ttf GROUP BY 1)
SELECT w.doc_id,
  COALESCE(bs.n_bigrams, 0) AS n_bigrams,
  COALESCE(CAST(bs.top_cnt AS DOUBLE) / bs.n_bigrams, 0.0) AS top_bigram_frac,
  COALESCE(ts.n_trigrams, 0) AS n_trigrams,
  COALESCE(CAST(ts.n_trigrams - ts.nd_trigrams AS DOUBLE) / ts.n_trigrams, 0.0)
    AS dup_trigram_frac,
  (COALESCE(CAST(bs.top_cnt AS DOUBLE) / bs.n_bigrams, 0.0) >= {REP_TOP_BIGRAM}
   OR COALESCE(CAST(ts.n_trigrams - ts.nd_trigrams AS DOUBLE) / ts.n_trigrams, 0.0)
      >= {REP_DUP_TRIGRAM}) AS repetitive
FROM w LEFT JOIN bs USING (doc_id) LEFT JOIN ts USING (doc_id)
"""


# Eval membership is a deterministic id rule standing in for a benchmark
# table; 3-gram shingles (not the usual 8-13) because the synthetic corpus
# has a ~30-word vocabulary — at real vocabulary sizes the shingle width
# rises, the mechanics don't change.
DECON_EVAL_MOD = 41
DECON_FRAC = 0.10


def decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination (GPT-3 §C / Gopher-style n-gram collision):
    flag training documents whose word-shingle overlap with the held-out
    eval set exceeds a fraction threshold, so they can be dropped before
    training. Eval docs themselves are excluded from the scored corpus.

    Scale shape: the eval side of the join is DISTINCT shingles of a
    benchmark suite — tiny at any corpus scale — and is explicitly
    broadcast, so scoring is one map-side hash semi-join over the corpus
    shingle relation plus a doc_id-keyed count; never corpus×corpus. Docs
    shorter than the shingle width have nothing to match and drop out (they
    cannot be contaminated)."""
    base = _split_base(spark, sf_dir)
    sh = _word_ngram_rows(base, 3).distinct()
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    ev = sh.where(is_eval).select("g").distinct()
    corpus = sh.where(~is_eval)
    per_doc = corpus.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    matched = (
        corpus.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_matched"))
    )
    frac = F.coalesce(
        F.col("n_matched").cast("double") / F.col("n_shingles"), F.lit(0.0)
    )
    return per_doc.join(matched, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
        frac.alias("contamination_frac"),
        (frac >= DECON_FRAC).alias("contaminated"),
    )


DECONTAMINATE_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tidx AS (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 2)) AS i FROM w),
sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM tidx),
ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
            FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0 GROUP BY 1),
m AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
      FROM sh s JOIN ev USING (g)
      WHERE s.doc_id % {DECON_EVAL_MOD} <> 0 GROUP BY 1)
SELECT p.doc_id, p.n_shingles,
  COALESCE(m.n_matched, 0) AS n_matched,
  COALESCE(CAST(m.n_matched AS DOUBLE) / p.n_shingles, 0.0) AS contamination_frac,
  (COALESCE(CAST(m.n_matched AS DOUBLE) / p.n_shingles, 0.0) >= {DECON_FRAC})
    AS contaminated
FROM per_doc p LEFT JOIN m USING (doc_id)
"""


# quality gates sit at measured corpus quantiles (alpha p1≈0.806, words
# p5≈14 at sf0.001) so each lane drops a real, small slice
PIPE_MIN_ALPHA = 0.81
PIPE_MIN_WORDS = 15


def corpus_filter_pipeline(spark, sf_dir):
    """End-to-end training-corpus hygiene pipeline — the corpus-side analog
    of the KG lane's build_triples: documents in, per-document verdict out.
    Every doc gets exactly one row with the FIRST filter stage that claims
    it ('eval' → 'low_quality' → 'repetitive' → 'near_duplicate' →
    'contaminated' → sampling) or 'kept' — cheap map-only gates attribute
    before join-heavy ones, the order production pipelines run them in
    (and short docs read 'low_quality', not 'repetitive', even though a
    7-word doc's top-bigram fraction trivially clears the repetition
    threshold). Composes the individually-oracled
    stages (dedup_ngram_jaccard pairs, repetition_flags, quality_scores,
    decontaminate_overlap, stratified membership) so the whole chain is one
    declarative plan Catalyst can prune/pushdown through — not a sequence
    of materialized passes.

    Scale shape: each stage contributes a doc_id-keyed relation left-joined
    onto the corpus spine — co-partitioned one-to-one joins, no fan-out; the
    near-dup lane keeps the lower doc_id of each Jaccard pair (drop side =
    distinct doc_b, doc-scale). At 100 TB the verdict column is exactly what
    gets written back as a partition-pruned lineage table. Exact-duplicate
    removal is subsumed by the Jaccard lane (identical texts have Jaccard
    1.0 and this corpus has no md5-exact copies at any sf)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    nd = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_neardup", F.lit(True))
    )
    rep = repetition_flags(spark, sf_dir).select("doc_id", "repetitive")
    qual = quality_scores(spark, sf_dir).select(
        "doc_id", "alpha_ratio", "n_words"
    )
    dec = decontaminate_overlap(spark, sf_dir).select("doc_id", "contaminated")
    src_num = F.regexp_extract("source", r"(\d+)", 1).try_cast("int")
    rate = (F.lit(25) + F.lit(5) * F.pmod(src_num, F.lit(10))).cast("int")
    h100 = F.pmod(
        _portable_hash(
            F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))
        ),
        F.lit(100),
    )
    reason = (
        F.when(F.col("doc_id") % DECON_EVAL_MOD == 0, "eval")
        .when(
            (F.col("alpha_ratio") < PIPE_MIN_ALPHA)
            | (F.col("n_words") < PIPE_MIN_WORDS),
            "low_quality",
        )
        .when(F.coalesce("repetitive", F.lit(False)), "repetitive")
        .when(F.coalesce("is_neardup", F.lit(False)), "near_duplicate")
        .when(F.coalesce("contaminated", F.lit(False)), "contaminated")
        # NULL-rate sources (digit-less) fall to the otherwise branch on
        # both engines: h100 < NULL is NULL, never true
        .when(h100 < rate, "kept")
        .otherwise("not_sampled")
    )
    return (
        d.join(nd, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(qual, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            reason.alias("drop_reason"),
            (reason == "kept").alias("kept"),
        )
    )


_PIPE_REASON_SQL = f"""CASE
    WHEN d.doc_id % {DECON_EVAL_MOD} = 0 THEN 'eval'
    WHEN qual.alpha_ratio < {PIPE_MIN_ALPHA} OR qual.n_words < {PIPE_MIN_WORDS}
      THEN 'low_quality'
    WHEN COALESCE(rep.repetitive, FALSE) THEN 'repetitive'
    WHEN nd.doc_id IS NOT NULL THEN 'near_duplicate'
    WHEN COALESCE(dec.contaminated, FALSE) THEN 'contaminated'
    WHEN {_SAMP_HASH.replace('doc_id', 'd.doc_id')} % 100
         < 25 + 5 * (TRY_CAST(regexp_extract(d.source, '(\\d+)', 1) AS INT) % 10)
      THEN 'kept'
    ELSE 'not_sampled' END"""

CORPUS_FILTER_SQL = f"""
WITH nd AS (SELECT DISTINCT doc_b AS doc_id FROM ({{jaccard}})),
rep AS ({{repetition}}),
qual AS ({{quality}}),
dec AS ({{decontaminate}})
SELECT d.doc_id, d.source, d.lang,
  {_PIPE_REASON_SQL} AS drop_reason,
  ({_PIPE_REASON_SQL} = 'kept') AS kept
FROM documents d
LEFT JOIN nd USING (doc_id)
LEFT JOIN rep USING (doc_id)
LEFT JOIN qual USING (doc_id)
LEFT JOIN dec USING (doc_id)
"""


NEYMAN_BUDGET = 1000  # total sample budget to allocate across strata


def neyman_allocation(spark, sf_dir):
    """Neyman-optimal sample allocation — the survey-sampling design op a
    data-curation team runs to split a labeling/eval budget across strata
    (Neyman 1934: allocate ∝ N_h·S_h, stratum size × stratum std — more
    budget where there is more mass AND more variance; [mixture_resample]
    executes GIVEN proportions, this DERIVES them): per event_type, the
    budget share with exact largest-remainder rounding so the integer
    allocations sum to exactly NEYMAN_BUDGET.

    Scale shape: ONE combinable pass computes the per-stratum sufficient
    statistics (the [user_value_trend] discipline: DECIMAL partial sums,
    fixed IEEE tree for S_h — sqrt is correctly-rounded libm-safe); all
    later windows run over the STRATA dimension (a handful of rows).
    Cross-engine exactness: weights are 1e-12-quantized then summed as
    DECIMAL (order-independent — a raw float total across strata would be
    order-dependent); quotas/fracs are fixed trees over identical inputs;
    remainder ranking ties break to the lexicographically first stratum."""
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"), F.col("value").alias("y")
    )
    g = e.groupBy("stratum").agg(
        F.count("*").alias("n"),
        F.sum(F.col("y").cast("decimal(28,12)")).alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,12)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sd = F.when(
        F.col("n") > 1,
        F.sqrt((n * syy - sy * sy) / (n * (n - F.lit(1.0)))),
    ).otherwise(F.lit(0.0))

    def qz(c):
        return F.floor(c * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)

    wtd = g.select("stratum", "n", qz(n * sd).alias("w"))
    tot = wtd.agg(
        F.sum(F.col("w").cast("decimal(28,14)")).alias("tot")
    )  # 1 row
    # zero-total guard (every stratum singleton/constant → all weights 0):
    # an unguarded 0/0 is NaN in Spark but NULL in DuckDB — make it NULL on
    # both engines
    q = wtd.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n",
        "w",
        F.when(
            F.col("tot").cast("double") > 0,
            F.lit(float(NEYMAN_BUDGET))
            * F.col("w")
            / F.col("tot").cast("double"),
        ).alias("q"),
    )
    base = q.withColumn("base", F.floor("q").cast("long")).withColumn(
        "frac", F.col("q") - F.col("base")
    )
    wall = Window.partitionBy()
    wrank = Window.orderBy(F.desc("frac"), F.asc("stratum"))
    ranked = base.select(
        "stratum",
        "n",
        "w",
        "base",
        F.row_number().over(wrank).alias("rn"),
        F.greatest(
            F.lit(NEYMAN_BUDGET) - F.sum("base").over(wall), F.lit(0)
        ).alias("leftover"),
    )
    return ranked.select(
        "stratum",
        F.col("n").cast("long").alias("n_rows"),
        F.col("w").alias("weight"),
        (F.col("base") + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("alloc"),
    )


NEYMAN_SQL = f"""
WITH ny_e AS (
  SELECT event_type AS stratum, value AS y FROM events),
ny_g AS (
  SELECT stratum, COUNT(*) AS n,
         SUM(CAST(y AS DECIMAL(28,12))) AS sy,
         SUM(CAST(y * y AS DECIMAL(28,12))) AS syy
  FROM ny_e GROUP BY 1),
ny_w AS (
  SELECT stratum, n,
         FLOOR(CAST(n AS DOUBLE)
               * (CASE WHEN n > 1
                       THEN SQRT((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                                 / (CAST(n AS DOUBLE)
                                    * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))))
                       ELSE CAST(0.0 AS DOUBLE) END)
               * 1e12 + CAST(0.5 AS DOUBLE)) / 1e12 AS w
  FROM ny_g),
ny_t AS (SELECT SUM(CAST(w AS DECIMAL(28,14))) AS tot FROM ny_w),
ny_q AS (
  SELECT stratum, n, w,
         CASE WHEN CAST(tot AS DOUBLE) > 0
              THEN CAST({float(NEYMAN_BUDGET)} AS DOUBLE) * w
                   / CAST(tot AS DOUBLE) END AS q
  FROM ny_w CROSS JOIN ny_t),
ny_b AS (
  SELECT stratum, n, w, CAST(FLOOR(q) AS BIGINT) AS base,
         q - FLOOR(q) AS frac
  FROM ny_q),
ny_r AS (
  SELECT stratum, n, w, base,
         ROW_NUMBER() OVER (ORDER BY frac DESC, stratum ASC) AS rn,
         GREATEST({NEYMAN_BUDGET} - SUM(base) OVER (), 0) AS leftover
  FROM ny_b)
SELECT stratum, CAST(n AS BIGINT) AS n_rows, w AS weight,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM ny_r
"""


def mixture_resample(spark, sf_dir):
    """Target-proportion data mixing — the step after dedup/filtering that
    turns a cleaned corpus into a TRAINING MIXTURE: given per-source target
    weights, emit the maximum-volume downsample whose source proportions
    hit the targets exactly, never upsampling. Weights here are a
    deterministic function of the source id (1 + src_num % 4) standing in
    for a mixing-config table.

    The feasible total is T = min_s floor(n_s·W / w_s) (the binding source
    is the one that runs out first); each source contributes
    take_s = floor(w_s·T / W). All-integer arithmetic (BIGINT DIV) so both
    engines agree bit-exactly. Selection inside a source is the first
    take_s rows by portable content hash — deterministic on any cluster
    size/retry, unlike rand()/TABLESAMPLE.

    Scale shape: counts/weights/T are source-cardinality relations riding
    as broadcasts; the per-source rank is one shuffle partitioned on
    source. A pathologically hot source makes that window a straggler — at
    100 TB swap the exact rank for the hash-threshold variant
    ([stratified_sample]'s shape, map-only) and accept ±o(1) counts."""
    d = _t(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"(\d+)", 1).try_cast("int")
    docs = d.select(
        "doc_id",
        "source",
        (F.lit(1) + F.pmod(src_num, F.lit(4))).cast("bigint").alias("w"),
    )
    counts = docs.groupBy("source").agg(
        F.min("w").alias("w"), F.count("*").alias("n")
    )
    tot = counts.agg(F.sum("w").alias("big_w"))
    t_row = (
        counts.crossJoin(F.broadcast(tot))
        .select(F.expr("n * big_w DIV w").alias("t_s"))
        .agg(F.min("t_s").alias("t"))
    )
    quota = (
        counts.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(t_row))
        .select("source", F.expr("w * t DIV big_w").alias("take_s"))
    )
    h = _portable_hash(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
    ranked = docs.withColumn("h", h).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy("h", "doc_id")
        ),
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("rn") <= F.col("take_s"))
        .select("doc_id", "source", F.col("take_s").cast("bigint").alias("take_s"))
    )


_MIX_HASH = PORTABLE_HASH_SQL.format(
    x="CONCAT('mix|', CAST(doc_id AS VARCHAR))"
)
MIXTURE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(1 + (TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4)
              AS BIGINT) AS w
  FROM documents
), c AS (
  SELECT source, MIN(w) AS w, COUNT(*) AS n FROM d GROUP BY source
), tot AS (SELECT SUM(w) AS big_w FROM c),
t AS (SELECT MIN(n * big_w // w) AS t FROM c, tot),
quota AS (SELECT source, w * t // big_w AS take_s FROM c, tot, t),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {_MIX_HASH}, doc_id) AS rn
  FROM d
)
SELECT r.doc_id, r.source, CAST(q.take_s AS BIGINT) AS take_s
FROM ranked r JOIN quota q USING (source)
WHERE r.rn <= q.take_s
"""


HH_K = 40  # heavy-hitter threshold: tokens with count*K > total tokens


def heavy_hitter_tokens(spark, sf_dir):
    """Heavy-hitter tokens by two-pass Misra-Gries — EXACT output with a
    sketch-bounded shuffle. Pass 1 runs an MG summary (HH_K counters) per
    partition inside one mapInPandas generator (state carried across Arrow
    batches, O(K) memory): by pigeonhole, any token with global count
    > N/K exceeds N_p/K in some partition p, and MG with K counters keeps
    every token above N_p/(K+1) — so the union of per-partition candidates
    is a SUPERSET of the true heavy hitters regardless of partitioning.
    Pass 2 broadcast-joins the tiny candidate set (≤ K·partitions rows)
    against the token stream and recounts exactly, keeping count·K > N.
    Net: the groupBy shuffles only candidate-matching tokens, never the
    full token vocabulary — THE reason to sketch at 100 TB — while the
    result equals plain `GROUP BY token HAVING count·K > N` bit-exactly
    (that is the DuckDB oracle), independent of partition layout."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents")

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                for tok in (text or "").split(" "):
                    if not tok:
                        continue
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < HH_K:
                        counters[tok] = 1
                    else:
                        dead = []
                        for t in counters:
                            counters[t] -= 1
                            if counters[t] == 0:
                                dead.append(t)
                        for t in dead:
                            del counters[t]
        yield pd.DataFrame({"token": list(counters)})

    candidates = (
        d.select("text").mapInPandas(mg_partition, "token string").distinct()
    )
    toks = d.select(
        F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    n_tot = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .crossJoin(F.broadcast(n_tot))
        .where(F.col("n_occurrences") * HH_K > F.col("n"))
        .select("token", "n_occurrences")
    )


HEAVY_HITTER_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), nz AS (SELECT token FROM toks WHERE token <> ''),
tot AS (SELECT COUNT(*) AS n FROM nz)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM nz, tot
GROUP BY token, tot.n
HAVING COUNT(*) * {HH_K} > tot.n
"""


def dedup_pr_eval(spark, sf_dir):
    """Precision/recall evaluation of the LSH candidate generator against
    the exact Jaccard ground truth — the dedup-pipeline twin of the north
    rule's own P/R >= 0.95 acceptance gate: `lsh_candidate_pairs` is the
    PREDICTION, `dedup_ngram_jaccard` (exact shingle-Jaccard >= 0.5 over
    the df-capped shingle universe — the cap is shared by both sides, so
    the eval is apples-to-apples) is the TRUTH, and the report is one row
    of (tp, fp, fn, prec, recall). This is the measurement a corpus team
    runs before trusting a banding config at scale: r/b tuning moves the
    s-curve, and this query prices it.

    Scale shape: both inputs are candidate-PAIR-scale relations (already
    bounded by the df-cap / bucket-cap disciplines of their own CORR'd
    plans); the eval is ONE full-outer equi-join on the pair key + ONE
    combinable conditional-count aggregate. prec/recall are single IEEE
    divisions of exact integers, NULL when undefined (zero denominator)
    on both engines."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    pred = lsh_candidate_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("p")
    )
    j = truth.join(pred, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("tp"),
        F.sum(F.when(F.col("t").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("p").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
        ).alias("prec"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
        ).alias("recall"),
    )


DEDUP_PR_SQL = f"""
WITH pr_truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({DEDUP_JACCARD_SQL})),
pr_pred AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({LSH_SQL})),
pr_j AS (
  SELECT CASE
           WHEN t.doc_a IS NOT NULL AND p.doc_a IS NOT NULL THEN 'tp'
           WHEN p.doc_a IS NOT NULL THEN 'fp'
           ELSE 'fn' END AS cls
  FROM pr_truth t FULL OUTER JOIN pr_pred p
    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
pr_c AS (
  SELECT CAST(SUM(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN cls = 'fp' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN cls = 'fn' THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pr_j)
SELECT tp, fp, fn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
FROM pr_c
"""


# Width/depth sized to the SYNTHETIC corpus's 31-token vocabulary so the
# collision lane is LIVE (width 16 < vocab → guaranteed collisions → nonzero
# overestimates to measure; at 256×4 every probe read back exact and the
# error column was dead). Production sizes width to the error budget
# (ε ≈ e/width of the stream mass) and depth to the failure probability
# (δ ≈ e^-depth) — the constants are the knobs, the plan shape is identical.
CMS_WIDTH = 16
CMS_DEPTH = 2
CMS_MIN_EXACT = 20  # probe set: tokens at/above this exact count


def _cms_positions(token_col):
    """The CMS_DEPTH (row, col) cells a token hashes to — the portable-hash
    seeded-draw idiom (row j's hash = H('cms{j}|' || token) % WIDTH), shared
    by the build and probe sides so they cannot drift."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.pmod(
                    _portable_hash(F.concat(F.lit(f"cms{j}|"), token_col)),
                    F.lit(CMS_WIDTH),
                ).alias("w"),
            )
            for j in range(CMS_DEPTH)
        ]
    )


def cms_token_counts(spark, sf_dir):
    """Count-Min sketch (Cormode/Muthukrishnan 2005) over the corpus token
    stream, with its one-sided error measured against the exact counts —
    the MERGEABLE turnstile frequency sketch next to [heavy_hitter_tokens]
    (Misra-Gries: deterministic top-k, needs a second exact pass) and the
    HLL/GK/KLL rows (whose randomized internals are engine-specific and
    therefore accuracy-laned): CMS is pure integer arithmetic over portable
    hashes, so — uniquely among the sketches — its ENTIRE build + probe is
    SQL-oracle-able bit-exactly. Report: every token with exact count ≥
    CMS_MIN_EXACT, its CMS point estimate (min over depth rows), and the
    overestimate (≥ 0 by the CMS one-sided guarantee — the eval a team
    runs to size width/depth before trusting sketch-only counts).

    Scale shape: the build is a map-only ×DEPTH explode + ONE combinable
    groupBy into a BOUNDED (DEPTH × WIDTH)-cell relation — the 100 TB
    story: per-partition partial sketches merge by cell addition (exactly
    what map-side combine does), and the finished sketch is 1024 rows
    regardless of corpus size; the probe joins the probe tokens' cells
    against that broadcast-sized relation. Integer-only."""
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    cells = (
        toks.select(F.explode(_cms_positions(F.col("tok"))).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.w").alias("w"))
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_cnt"))
        .where(F.col("exact_cnt") >= CMS_MIN_EXACT)
    )
    probe = exact.select(
        "tok", "exact_cnt", F.explode(_cms_positions(F.col("tok"))).alias("c")
    ).select("tok", "exact_cnt", F.col("c.j").alias("j"), F.col("c.w").alias("w"))
    est = (
        probe.join(F.broadcast(cells), ["j", "w"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.select(
        F.col("tok").alias("token"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") - F.col("exact_cnt"))
        .cast("long")
        .alias("overestimate"),
    )


def _cms_pos_sql(j: int, x: str) -> str:
    inner = f"CONCAT('cms{j}|', {x})"
    return f"{PORTABLE_HASH_SQL.format(x=inner)} % {CMS_WIDTH}"


def _cms_sql() -> str:
    build_parts = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, {_cms_pos_sql(j, 'tok')} AS w FROM cms_toks"
        for j in range(CMS_DEPTH)
    )
    probe_parts = "\nUNION ALL\n".join(
        f"SELECT tok, exact_cnt, {j} AS j, {_cms_pos_sql(j, 'tok')} AS w"
        " FROM cms_exact"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH cms_toks AS MATERIALIZED (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
cms_cells AS (
  SELECT j, w, COUNT(*) AS cnt FROM ({build_parts}) GROUP BY 1, 2),
cms_exact AS (
  SELECT tok, COUNT(*) AS exact_cnt FROM cms_toks GROUP BY 1
  HAVING COUNT(*) >= {CMS_MIN_EXACT}),
cms_probe AS ({probe_parts})
SELECT p.tok AS token,
       CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(MIN(c.cnt) AS BIGINT) AS est_cnt,
       CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overestimate
FROM cms_probe p JOIN cms_cells c ON c.j = p.j AND c.w = p.w
GROUP BY p.tok, p.exact_cnt
"""


CMS_SQL = _cms_sql()


def minhash_jaccard_estimate(spark, sf_dir):
    """Sketch-ESTIMATOR accuracy eval: for every LSH candidate pair, the
    MinHash Jaccard estimate (matching signature components / K — the
    unbiased estimator the banding theory assumes) next to the exact
    df-capped shingle Jaccard and the absolute error. [dedup_pr_eval]
    prices the candidate generator's RECALL; this prices the ESTIMATOR
    itself — the measurement that justifies K before trusting
    signature-only dedup at a scale where exact verification is
    unaffordable. Signatures ride the uncapped shingle set (their CORR'd
    contract); 'exact' is the dedup pipeline's own df-capped universe —
    both documented contracts reused verbatim.

    Scale shape: everything is candidate-pair-bounded — the estimate join
    fans each pair out K=N_MINHASH times against the long-form signature
    relation, the exact-intersection join only touches candidates' own
    kept shingles; a candidate doc with zero kept shingles drops out by
    the same inner size-join on both engines. est/exact are single IEEE
    divisions of exact integers; abs_err one subtraction on identical
    inputs."""
    cands = lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sigs = minhash_signatures(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), "h_idx", F.col("minhash").alias("ma")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), "h_idx", F.col("minhash").alias("mb")
    )
    eq = (
        cands.join(sa, "doc_a")
        .join(sb, ["doc_b", "h_idx"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.when(F.col("ma") == F.col("mb"), 1).otherwise(0)
            ).alias("n_eq")
        )
    )
    raw = _shingles(spark, sf_dir)
    hot = (
        raw.groupBy("s")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > MAX_SHINGLE_DF)
        .select("s")
    )
    kept = raw.join(F.broadcast(hot), "s", "left_anti")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    ka = kept.select(F.col("doc_id").alias("doc_a"), "s")
    kb = kept.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cands.join(ka, "doc_a")
        .join(kb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    est = F.col("n_eq").cast("double") / F.lit(float(N_MINHASH))
    exact = F.coalesce("inter", F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce("inter", F.lit(0))
    )
    return (
        eq.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_eq").cast("long").alias("n_eq"),
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


MINHASH_EST_SQL = f"""
WITH mje_cands AS MATERIALIZED (SELECT doc_a, doc_b FROM ({{lsh}})),
mje_sigs AS MATERIALIZED ({{minhash}}),
mje_sh AS MATERIALIZED (WITH {SHINGLES_SQL} SELECT doc_id, s FROM shingles),
mje_kept AS MATERIALIZED (
  SELECT doc_id, s FROM mje_sh
  WHERE s NOT IN (SELECT s FROM mje_sh GROUP BY s
                  HAVING COUNT(*) > {MAX_SHINGLE_DF})),
mje_sizes AS (SELECT doc_id, COUNT(*) AS n FROM mje_kept GROUP BY 1),
mje_eq AS (
  SELECT c.doc_a, c.doc_b,
         SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS n_eq
  FROM mje_cands c
  JOIN mje_sigs a ON a.doc_id = c.doc_a
  JOIN mje_sigs b ON b.doc_id = c.doc_b AND b.h_idx = a.h_idx
  GROUP BY 1, 2),
mje_int AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM mje_cands c
  JOIN mje_kept ka ON ka.doc_id = c.doc_a
  JOIN mje_kept kb ON kb.doc_id = c.doc_b AND kb.s = ka.s
  GROUP BY 1, 2)
SELECT e.doc_a, e.doc_b, CAST(e.n_eq AS BIGINT) AS n_eq,
       CAST(e.n_eq AS DOUBLE) / {float(N_MINHASH)} AS est_jaccard,
       CAST(COALESCE(i.inter, 0) AS DOUBLE)
         / (sa.n + sb.n - COALESCE(i.inter, 0)) AS exact_jaccard,
       ABS(CAST(e.n_eq AS DOUBLE) / {float(N_MINHASH)}
           - CAST(COALESCE(i.inter, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.inter, 0))) AS abs_err
FROM mje_eq e
LEFT JOIN mje_int i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN mje_sizes sa ON sa.doc_id = e.doc_a
JOIN mje_sizes sb ON sb.doc_id = e.doc_b
"""


def source_lang_hhi(spark, sf_dir):
    """Corpus-mix concentration per source — the Herfindahl-Hirschman index
    (HHI) of each source's language distribution plus its dominant language:
    the mixture-diagnostics screen a training-data pipeline runs before
    setting sampling weights (is a source effectively monolingual, or
    balanced?). HHI = Σ n_i² / N² rather than Shannon entropy deliberately:
    entropy needs ln() (libm, not bit-portable — the token_pmi rule) while
    HHI is exact integers up to ONE final IEEE division.

    Scale shape: the corpus collapses to (source, lang) cells in ONE
    combinable groupBy; the per-source rollup and the dominant-language
    window both run over that dimension-bounded cell relation (sources ×
    langs, never the corpus). Ties on the top language break to the
    lexicographically smallest."""
    cells = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    ranked = cells.withColumn("rn", F.row_number().over(w))
    grp = ranked.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_langs"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
        F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias("top_lang"),
        F.max(F.when(F.col("rn") == 1, F.col("n"))).alias("top_n"),
    )
    return grp.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        "top_lang",
        (
            F.col("top_n").cast("double") / F.col("n_docs").cast("double")
        ).alias("top_share"),
        (
            F.col("sq").cast("double")
            / (F.col("n_docs") * F.col("n_docs")).cast("double")
        ).alias("hhi"),
    )


HHI_SQL = """
WITH hh_c AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
hh_r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
    ORDER BY n DESC, lang ASC) AS rn
  FROM hh_c),
hh_g AS (
  SELECT source, SUM(n) AS n_docs, COUNT(*) AS n_langs, SUM(n * n) AS sq,
         MAX(CASE WHEN rn = 1 THEN lang END) AS top_lang,
         MAX(CASE WHEN rn = 1 THEN n END) AS top_n
  FROM hh_r GROUP BY 1)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs, top_lang,
       CAST(top_n AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share,
       CAST(sq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE) AS hhi
FROM hh_g
"""


TEXTOPS_QUERIES: dict[str, tuple] = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_JACCARD_SQL),
    "minhash_signatures": (minhash_signatures, MINHASH_SQL),
    "lsh_candidate_pairs": (lsh_candidate_pairs, LSH_SQL),
    "dedup_lsh_clusters": (dedup_lsh_clusters, DEDUP_CLUSTERS_SQL),
    "simhash_fingerprints": (simhash_fingerprints, SIMHASH_SQL),
    "embedding_cosine_pairs": (embedding_cosine_pairs, COSINE_PAIRS_SQL),
    "ann_topk_cosine": (ann_topk_cosine, ANN_SQL),
    "lang_id_heuristic": (lang_id_heuristic, LANG_ID_SQL),
    "quality_scores": (quality_scores, QUALITY_SQL),
    "token_counts": (token_counts, TOKEN_SQL),
    "doc_fingerprints": (doc_fingerprints, FINGERPRINT_SQL),
    "multimodal_bytes": (multimodal_bytes, MULTIMODAL_SQL),
    # sweep-capped (registry._UNREGISTERED) but oracle-checked in pytest:
    "stratified_sample": (stratified_sample, STRATIFIED_SAMPLE_SQL),
    "dup_span_fraction": (dup_span_fraction, DUP_SPAN_SQL),
    "redact_pii": (redact_pii, REDACT_SQL),
    "mixture_resample": (mixture_resample, MIXTURE_SQL),
    "heavy_hitter_tokens": (heavy_hitter_tokens, HEAVY_HITTER_SQL),
    "dedup_pr_eval": (dedup_pr_eval, DEDUP_PR_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    "bm25_rank": (bm25_rank, BM25_SQL),
    "repetition_flags": (repetition_flags, REPETITION_SQL),
    "decontaminate_overlap": (decontaminate_overlap, DECONTAMINATE_SQL),
    "token_pmi": (token_pmi, TOKEN_PMI_SQL),
    "dedup_keep_best": (dedup_keep_best, DEDUP_KEEP_BEST_SQL),
    "rrf_hybrid_rank": (rrf_hybrid_rank, RRF_SQL),
    "source_lang_hhi": (source_lang_hhi, HHI_SQL),
    "minhash_jaccard_estimate": (
        minhash_jaccard_estimate,
        MINHASH_EST_SQL.format(lsh=LSH_SQL, minhash=MINHASH_SQL),
    ),
    "cms_token_counts": (cms_token_counts, CMS_SQL),
    "neyman_allocation": (neyman_allocation, NEYMAN_SQL),
    "corpus_filter_pipeline": (
        corpus_filter_pipeline,
        CORPUS_FILTER_SQL.format(
            jaccard=DEDUP_JACCARD_SQL,
            repetition=REPETITION_SQL,
            quality=QUALITY_SQL,
            decontaminate=DECONTAMINATE_SQL,
        ),
    ),
}
