"""Unified query registry: name → (spark_fn, oracle_sql | None).

Drives __spark_entry__.queries()/oracle_sql(). The KG-pipeline queries ARE
SQL-oracled (plans/kg_oracle.py re-derives transcripts → triples entirely in
DuckDB: the derivation is deterministic arithmetic over `documents` and the
kernels are regex/set algebra), on top of the pytest golden suite against
the pandas oracle (tests/test_pipeline_golden.py).

Ordering/size: ALL_QUERIES is the KG lane (KG_QUERIES) followed by every
family dict in _FAMILIES order, capped at 50 entries — the driver sweep
records at most 50 rows, and every registered query must get a row. The
family queries named in _UNREGISTERED form UNREGISTERED_QUERIES instead:
each is still oracle-checked in pytest (tests/test_entry_queries.py's
unregistered lane) and exposed through __spark_entry__.unregistered() so
the exclusion is visible at runtime.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .advanced import ADVANCED_QUERIES
from .iterstate import truncate_round
from .disambig import DISAMBIG_QUERIES
from .mlops import MLOPS_QUERIES
from .relational import RELATIONAL_QUERIES
from .textops import TEXTOPS_QUERIES


# caches persisted by the previous kg_* invocation — released on the next
# call so repeated registry runs (bench loops, the driver's sweep) don't
# accumulate dead cached intermediates
_KG_CACHES: list = []


def _kg_build(spark, sf_dir):
    from ..datagen import transcripts_df
    from ..pipeline.run import build_triples

    for df in _KG_CACHES:
        try:
            df.unpersist()
        except Exception:
            pass
    _KG_CACHES.clear()
    return build_triples(
        spark, transcripts_df(spark, sf_dir), cache_registry=_KG_CACHES
    )


def _kg_undirected_edges(triples):
    """Canonical undirected (a < b) distinct edge set of the entity graph —
    single source for kg_triangles and kg_label_propagation (the oracle's
    twin lives once in _kg_ctes-derived SQL; keep these in lockstep)."""
    return (
        triples.where(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .distinct()
    )


def _kg_node_set(triples):
    """Distinct entity set (subjects ∪ objects) — single source for
    kg_pagerank and kg_label_propagation."""
    return (
        triples.select(F.col("subj").alias("entity"))
        .union(triples.select(F.col("obj").alias("entity")))
        .distinct()
    )


def kg_triples(spark, sf_dir):
    """Full KG-construction pipeline: transcripts → verified canonical triples."""
    return _kg_build(spark, sf_dir)


def kg_entity_rollup(spark, sf_dir):
    """Per-entity verdict counts + proveScore (A6) over the KG output."""
    from ..pipeline.run import entity_rollup

    return entity_rollup(_kg_build(spark, sf_dir))


def kg_top_supported(spark, sf_dir):
    """Top-10 entities by supported-claim count (the flagship read query)."""
    return (
        kg_entity_rollup(spark, sf_dir)
        .orderBy(F.desc("n_supports"), F.asc("subj"))
        .limit(10)
    )


def kg_pagerank(spark, sf_dir):
    """Entity importance over the constructed KG: PageRank by iterative
    DataFrame join+aggregate rounds (the GraphFrames-style iterative-join
    shape the north star names, same family as the connected-components
    canonicalizer). Simplified variant without dangling-mass redistribution
    (scores rank entities; they need not sum to 1) — documented and mirrored
    exactly by the DuckDB oracle (kg_oracle.kg_pagerank_sql).

    Scale shape: `links` (edge ∪ out-degree) is pre-partitioned on src and
    persisted ONCE — every iteration's contribution join reuses that
    partitioning, so each round costs one node-scale shuffle (the groupBy
    dst) like any PageRank; the node count rides along as a 1-row broadcast
    (no driver-side .collect()). Cross-engine exactness: contributions are
    IEEE double divisions, per-node sums go through DECIMAL(28,14), each
    round's rank is quantized to the 1e-12 grid (HALF_UP floor trick).
    """
    from .kg_oracle import PAGERANK_ITERS

    triples = _kg_build(spark, sf_dir)
    edges = (
        triples.where(F.col("subj") != F.col("obj"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    nodes = _kg_node_set(triples).persist()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    links = edges.join(outdeg, "src").repartition("src").persist()
    _KG_CACHES.extend([nodes, links])
    # eager-materialize: both relations feed many concurrently-scheduled
    # sibling stages of the single final action, and a lazy persist gets
    # recomputed by each sibling until the cache fills (measured race —
    # see kg_triangles / semdedup). Node/edge scale, so the counts are cheap.
    nodes.count()
    links.count()
    n_df = nodes.agg(F.count("*").alias("n_nodes"))

    def qz(col):
        # HALF_UP quantization to the 1e-12 grid — same floor trick both engines
        return F.floor(col * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)

    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "entity", qz(F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = links.join(ranks, links.src == ranks.entity).select(
            "dst", (F.col("pr") / F.col("odeg")).alias("c")
        )
        sums = contrib.groupBy("dst").agg(
            F.sum(F.col("c").cast("decimal(28,14)")).alias("s")
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_df))
            .join(sums, nodes.entity == sums.dst, "left")
            .select(
                "entity",
                qz(
                    F.lit(0.15) / F.col("n_nodes")
                    + F.lit(0.85)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        # round-state cut (node-count rows): without it the ranks lineage
        # doubles per round — 6 rounds print as an 831-exchange static plan
        # and driver-side analysis grows superlinearly with rounds
        # (plans/iterstate.py + BASELINE.md measurements)
        ranks = truncate_round(ranks)
    return ranks.join(outdeg, ranks.entity == outdeg.src, "left").select(
        "entity",
        F.col("pr").alias("pagerank"),
        F.coalesce("odeg", F.lit(0)).cast("long").alias("out_degree"),
    )


def kg_entities(spark, sf_dir):
    """The entities dimension table (canonical id, label, members, stats)."""
    from ..pipeline.run import build_entities

    return build_entities(spark, _kg_build(spark, sf_dir))


def kg_triangles(spark, sf_dir):
    """Per-entity triangle participation over the KG entity graph — the
    graph family's clustering signal next to [[kg_pagerank]] (importance).
    Exact, integer-only.

    Scale shape: edges are oriented from the (degree, id)-smaller endpoint —
    the classic triangle-enumeration trick: every triangle appears exactly
    once as a wedge at its minimum-(deg, id) vertex, and the wedge-join
    fan-out per key is the ORIENTED out-degree: a degree-d hub's edges all
    orient from its lower-degree neighbors INTO the hub, so the hub centers
    no wedges over its leaf pairs — the d^2 blow-up a naive self-join takes
    on hot entities never materializes. The closure probe is an equi-join
    against the canonical undirected edge set, never a cross join.
    Degree/orientation/count are all integers — no cross-engine float
    discipline needed."""
    triples = _kg_build(spark, sf_dir)
    # EAGER materialization via truncate_round (localCheckpoint): und/deg/
    # oriented each feed 2+ sibling branches of one job, and Spark runs
    # independent stages concurrently — a lazy persist would be recomputed
    # by every sibling before the cache fills (the measured
    # 4x-identical-stage race; same mitigation as build_triples'
    # eager_cache). The lineage CUT also matters here even though nothing
    # iterates: each branch re-expands the full kg-pipeline subtree
    # TEXTUALLY in the static plan (audited at 1003 exchanges / 410 scans
    # before the cut, runtime 11 stages), and the driver pays analysis
    # cost on that tree for every planned action. All three relations are
    # edge/node scale — cheap to materialize.
    und = truncate_round(_kg_undirected_edges(triples))
    deg = truncate_round(
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = truncate_round(
        e.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select("src", F.col("dst").alias("d2"))
    wedges = o1.join(o2, "src").where(F.col("d1") < F.col("d2"))
    tris = wedges.join(
        und,
        (F.col("d1") == F.col("a")) & (F.col("d2") == F.col("b")),
        "inner",
    ).select("src", "d1", "d2")
    counts = (
        tris.select(
            F.explode(F.array("src", "d1", "d2")).alias("v")
        )
        .groupBy("v")
        .agg(F.count("*").alias("n"))
    )
    return deg.join(counts, "v", "left").select(
        F.col("v").alias("entity"),
        F.col("deg").cast("long").alias("degree"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_triangles"),
    )


def _label_propagation(nodes, und, iters: int, cache_registry: list | None = None):
    """Core synchronous LPA loop over an undirected (a < b) edge relation:
    every round, each node adopts its neighbors' most frequent label, ties
    broken by MIN label (async LPA is visit-order-dependent — this variant
    is deterministic and therefore oracle-able); isolated nodes keep their
    own label. Factored out so tests can drive crafted graphs directly
    (pass a local cache_registry to unpersist after use).

    Scale shape: the symmetric neighbor relation is pre-partitioned on dst
    and persisted ONCE (eager — the sibling-stage cache race); `nodes` and
    `und` are likewise persisted eagerly because both feed two sibling
    branches (the nbr union's legs / round 1's join + carry-forward) of
    one job; each round is one edge-scale join reusing the nbr
    partitioning + one node-scale (v, lbl) map-side-combinable count +
    one node-scale window, the same per-round cost profile as
    [kg_pagerank]; round state is lineage-truncated (plans/iterstate.py)."""
    caches = _KG_CACHES if cache_registry is None else cache_registry
    und = und.persist()
    nodes = nodes.persist()
    caches.extend([und, nodes])
    und.count()
    nodes.count()
    nbr = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("dst")
        .persist()
    )
    caches.append(nbr)
    nbr.count()
    labels = nodes.select("entity", F.col("entity").alias("lbl"))
    w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(iters):
        cand = nbr.join(labels, nbr.dst == labels.entity).select(
            F.col("src").alias("v"), "lbl"
        )
        pick = (
            cand.groupBy("v", "lbl")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("v", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(pick, labels.entity == pick.v, "left")
            .select(
                "entity", F.coalesce("new_lbl", "lbl").alias("lbl")
            )
        )
        labels = truncate_round(labels)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("n"))
    return labels.join(sizes, "lbl").select(
        "entity",
        F.col("lbl").alias("community"),
        F.col("n").cast("long").alias("community_size"),
    )


def kg_label_propagation(spark, sf_dir):
    """Community detection over the KG entity graph — the graph family's
    third signal next to [kg_pagerank] (importance) and [kg_triangles]
    (clustering): synchronous, deterministic label propagation for
    LPA_ITERS rounds, mirrored round-for-round by the DuckDB oracle's
    unrolled CTE chain (kg_oracle.kg_label_propagation_sql)."""
    from .kg_oracle import LPA_ITERS

    triples = _kg_build(spark, sf_dir)
    return _label_propagation(
        _kg_node_set(triples), _kg_undirected_edges(triples), LPA_ITERS
    )


def _kg_sqls() -> dict[str, str]:
    from .kg_oracle import (
        kg_entities_sql,
        kg_entity_rollup_sql,
        kg_label_propagation_sql,
        kg_pagerank_sql,
        kg_top_supported_sql,
        kg_triangles_sql,
        kg_triples_sql,
    )

    return {
        "kg_triples": kg_triples_sql(),
        "kg_entity_rollup": kg_entity_rollup_sql(),
        "kg_top_supported": kg_top_supported_sql(),
        "kg_pagerank": kg_pagerank_sql(),
        "kg_entities": kg_entities_sql(),
        "kg_triangles": kg_triangles_sql(),
        "kg_label_propagation": kg_label_propagation_sql(),
    }


_SQLS = _kg_sqls()

KG_QUERIES: dict[str, tuple] = {
    "kg_triples": (kg_triples, _SQLS["kg_triples"]),
    "kg_entity_rollup": (kg_entity_rollup, _SQLS["kg_entity_rollup"]),
    "kg_top_supported": (kg_top_supported, _SQLS["kg_top_supported"]),
    "kg_pagerank": (kg_pagerank, _SQLS["kg_pagerank"]),
    "kg_entities": (kg_entities, _SQLS["kg_entities"]),
    # registered r5 (rotating out usage_stats): triangle counting is a
    # genuinely distinct graph capability (degree-oriented wedge join)
    # where usage_stats repeated the plain-groupBy shape other CORR rows
    # already pin
    "kg_triangles": (kg_triangles, _SQLS["kg_triangles"]),
    # registered r5 (rotating out url_host_extract — the r4 verdict's named
    # rotation candidate, a single parse_url projection whose map-only shape
    # several CORR rows pin): community detection is the graph family's
    # fourth genuinely distinct capability
    "kg_label_propagation": (
        kg_label_propagation,
        _SQLS["kg_label_propagation"],
    ),
}

# Intentionally unregistered to stay under the driver's 50-row sweep cap
# (still importable + unit-tested; exposed via __spark_entry__.unregistered()
# so sweep reports can show the exclusions):
#   q18_large_orders — third of three near-isomorphic TPC-H join/agg queries
#     (q3 stays registered as the family representative); retired in favor
#     of kg_top_supported (r4)
#   q10_returned_items — second of the three; retired in favor of
#     dedup_lsh_clusters (r4), which covers a genuinely distinct capability
#     (LSH candidates → connected components → per-cluster representative)
#     where q10 repeated q3's join/agg/topN shape
#   stratified_sample — r4 data-mixing primitive; oracle-checked in pytest
#     (tests/test_entry_queries.py covers unregistered-but-oracled entries)
#   moving_avg_user_value — second of two frame-spec window queries
#     (running_user_value keeps the W-frame CORR row); retired in favor of
#     kg_pagerank (r4), which adds a genuinely new capability (iterative
#     graph ranking over the constructed KG)
#   cube_event_stats / grouping_sets_event_stats — two of three
#     near-isomorphic grouping-set-family queries (rollup_order_stats keeps
#     the family's CORR row); retired in favor of kmeans_centroids (a real
#     distributed Lloyd's trainer for the IVF coarse quantizer) and
#     pack_sequences (token-budget sequence packing — the corpus → training
#     sequences step)
_UNREGISTERED = {
    # usage_stats — plain groupBy/agg usage rollup whose shape is pinned by
    # several other CORR rows (top_sources_by_docs, rollup_order_stats);
    # rotated out r5 in favor of kg_triangles (degree-oriented triangle
    # counting — a genuinely new graph capability in the sweep)
    "usage_stats",
    "q18_large_orders",
    "q10_returned_items",
    "stratified_sample",
    "moving_avg_user_value",
    "cube_event_stats",
    "grouping_sets_event_stats",
    # tfidf_top_terms — added after the registry hit the 50-row cap; the
    # corpus-analytics family already holds CORR rows (lang_id / quality /
    # token_counts / fingerprints), so it lives in the pytest oracle lane
    "tfidf_top_terms",
    # repetition_flags / decontaminate_overlap — Gopher-style repetition
    # filters and benchmark n-gram decontamination; the quality family
    # already holds CORR rows (quality_scores, lang_id), so these join the
    # pytest oracle lane
    "repetition_flags",
    "decontaminate_overlap",
    # semdedup_keep — semantic dedup composing the IVF assignment with
    # within-cluster exact cosine; the embedding family already holds CORR
    # rows (embedding_cosine_pairs, ann_ivf_topk, kmeans_centroids)
    "semdedup_keep",
    # corpus_filter_pipeline — the end-to-end hygiene chain composing the
    # individually-CORR'd stages into one per-doc verdict relation
    "corpus_filter_pipeline",
    # hll_user_counts / approx_value_quantiles — mergeable-sketch
    # cardinality and quantiles (no SQL oracle by design: sketch internals
    # are engine-specific; accuracy/rank guarantees pinned in pytest
    # against exact answers)
    "hll_user_counts",
    "approx_value_quantiles",
    # kll_sketch_rollup — two-level mergeable KLL quantile rollup (per-day
    # sketch table merged later); randomized sketch → no SQL oracle by
    # design, rank guarantee pinned in pytest beside the HLL/GK rows
    "kll_sketch_rollup",
    # lateral_top_orders — Spark 4 correlated lateralJoin family (Catalyst
    # decorrelates to the ranked-window shape; topk_per_group keeps the W1
    # CORR row)
    "lateral_top_orders",
    # fuzzy_part_matches — blocked-Levenshtein entity resolution (best
    # near-duplicate per record); the approximate-match step ahead of the
    # exact-key canonicalizer whose CORR row the kg lane holds
    "fuzzy_part_matches",
    # scd2_user_state — SCD2 validity-interval history build (single-window
    # change detection); the frame-window family already holds CORR rows
    "scd2_user_state",
    # mixture_resample — target-proportion training-mix downsampling
    # (integer-exact quotas, portable-hash rank); joins stratified_sample
    # in the data-mixing family's pytest oracle lane
    "mixture_resample",
    # heavy_hitter_tokens — two-pass Misra-Gries: sketch-bounded shuffle,
    # exact HAVING-count output; completes the sketch family (HLL, GK)
    # with a fully SQL-oracled member
    "heavy_hitter_tokens",
    # dup_span_fraction — sub-document (16-word span) duplication signal
    # (MassiveText/CCNet paragraph dedup); joins the dedup family whose
    # document-level members hold the CORR rows
    "dup_span_fraction",
    # redact_pii — email/URL/long-number scrubbing (map-only regexp chain);
    # identity on the PII-free synthetic corpus, behavior pinned on crafted
    # fixtures in pytest
    "redact_pii",
    # url_host_extract — single parse_url projection (C9) whose map-only
    # shape several CORR rows pin; rotated out r5 in favor of
    # kg_label_propagation (community detection — a genuinely new graph
    # capability in the sweep)
    "url_host_extract",
    # alias_mentions_anchored — the anchored (no-crossJoin) scale path for
    # dictionary mention matching; alias_resolve_popularity keeps the
    # family's CORR row and the substring contract. The synthetic corpus
    # contains no alias surface forms (both contracts count 0 there — true
    # of the substring CORR row as well), so the word-boundary semantics,
    # superset property, and plan shape are pinned on crafted fixtures in
    # tests/test_alias_anchored.py
    "alias_mentions_anchored",
    # retention_cohorts — first-seen-week cohort retention triangle
    # (exact integer week arithmetic; the min-agg/join/distinct shapes
    # are CORR-pinned elsewhere)
    "retention_cohorts",
    # unpivot_quality_metrics — the native wide→long melt surface
    # (DataFrame.unpivot / SQL UNPIVOT); map-only, pivot's CORR row covers
    # the inverse reshape
    "unpivot_quality_metrics",
    # cumulative_unique_users — running-distinct growth curve via the
    # first-occurrence-attribution + prefix-sum identity (the combinable
    # re-expression of an uncombinable COUNT(DISTINCT) OVER)
    "cumulative_unique_users",
    # funnel_steps — strictly-ordered sequential-pattern funnel (the one
    # ordering-sensitive aggregation shape the set-shaped CORR rows cannot
    # express); same-key join/agg chain, one partitioning reused
    "funnel_steps",
    # cdc_apply_changes — MERGE INTO twin (changelog compaction +
    # upsert/delete apply); the window and full-outer shapes it composes
    # hold CORR rows elsewhere (latest_event_per_user, kg_entities' left
    # join), the merge-lane semantics pinned in tests/test_cdc.py
    "cdc_apply_changes",
    # bm25_rank — lexical retrieval scoring (rational-idf BM25) beside
    # tfidf_top_terms; the retrieval family's CORR rows are the ANN pair
    # (ann_topk_cosine, ann_ivf_topk)
    "bm25_rank",
    # rrf_hybrid_rank — hybrid lexical+semantic retrieval by reciprocal
    # rank fusion (composes bm25_rank with the exact-cosine ranking; the
    # retrieval family's CORR rows are the ANN pair)
    "rrf_hybrid_rank",
    # dedup_keep_best — quality-ranked survivor selection per LSH cluster
    # (the keep policy composing dedup_lsh_clusters + quality_scores, both
    # of which hold the family's CORR rows)
    "dedup_keep_best",
    # quantize_embeddings — int8 scalar vector quantization (FAISS-SQ8
    # shape) with per-element reconstruction error; joins the embedding
    # family's pytest lane (kmeans_centroids / ann_ivf_topk hold the CORR
    # rows); map-only, fixed-IEEE-tree exact (no DECIMAL detour needed)
    "quantize_embeddings",
    # pq_codes — product quantization (two per-subspace TRAINED codebooks
    # via the shared Lloyd chain; codes + exact reconstruction error); the
    # embedding family's CORR rows are kmeans_centroids / ann_ivf_topk
    "pq_codes",
    # dedup_pr_eval — precision/recall of the LSH candidate generator vs
    # the exact-Jaccard ground truth (the banding-config acceptance test;
    # the dedup family's CORR rows pin both inputs); one pair-scale full
    # outer join + one conditional-count agg
    "dedup_pr_eval",
    # q3_shipping_priority — the second of two J1/J2 join+agg+topN rows
    # (region_revenue keeps the family's CORR row, topk_per_group the
    # limit shape); rotated out r5 in favor of pareto_frontier_parts (the
    # skyline — a genuinely new operator class in the sweep)
    "q3_shipping_priority",
    # pivot_event_counts — the second of two A6 pivot rows
    # (kg_entity_rollup keeps the family's CORR row); rotated out r5 in
    # favor of bloom_semi_join (the bloom join-pushdown scale technique)
    "pivot_event_counts",
    # gapfill_user_days — dense daily-grid gap fill + forward fill (LOCF),
    # the timeseries time_bucket-gapfill/locf operator; span-bounded
    # sequence explode + user-partitioned last(ignorenulls) window; the
    # running-frame window shape holds the CORR row via running_user_value
    "gapfill_user_days",
    # weighted_median_price — grouped WEIGHTED median (mass-carrying order
    # statistic neither engine ships); one group-partitioned cumulative
    # window + integer qualifying test + combinable min
    "weighted_median_price",
    # user_value_trend — per-entity OLS slope/intercept (REGR_SLOPE
    # semantics) via the five combinable sufficient statistics; DECIMAL
    # partial sums + a fixed IEEE closed-form tree; rebased-x keeps the
    # integer arithmetic exact
    "user_value_trend",
    # snapshot_diff — table-format time-travel diff (changelog FROM two
    # snapshots — the inverse of cdc_apply_changes): one full-outer
    # equi-join + map-only classification; snapshot B synthesized by
    # deterministic integer-key rules so both engines diff identical pairs
    "snapshot_diff",
    # burst_detection — sliding-window rate-limit audit via a RANGE
    # (value-bounded) window frame — the frame type the ROWS-frame rows
    # don't exercise; one user-partitioned window, integer-only
    "burst_detection",
    # mad_outliers — robust per-group outlier tagging (median/MAD, the
    # heavy-tail-safe z-score twin); two exact percentile aggs on one
    # group key + broadcast stats back (percentile_event_values holds the
    # family's CORR row; GK/KLL sketches are the 100 TB path)
    "mad_outliers",
    # audience_churn — day-over-day active-set composition change
    # (retained/new/churned + set Jaccard; the set-evolution op beside
    # retention_cohorts' triangle); distinct (day,user) relation, one
    # user-and-day-keyed self-join
    "audience_churn",
    # rfm_scores — recency/frequency/monetary quartile segmentation (the
    # CRM scoring rollup); three customer-dimension NTILE windows with
    # deterministic total orders
    "rfm_scores",
    # embedding_covariance — dim×dim sample covariance (the PCA precursor;
    # per-vector self-join fan-out is dim² constant, partial outer-product
    # sums merge by addition — the distributed-covariance shape)
    "embedding_covariance",
    # salted_join_enrich — replicate-small/salt-big skewed equi-join (the
    # JOIN half of the skew toolkit; salted_event_counts holds the AGG
    # half's CORR row); oracle = the plain join it must equal bit-for-bit
    "salted_join_enrich",
    # rolling_zscore — trailing-window standardization (two-frame-aggregate
    # composition: mean AND sample std over one moving frame; DECIMAL frame
    # sums, fixed IEEE closed form, degenerate frames → NULL)
    "rolling_zscore",
    # point_in_time_state — PIT-correct state lookup (the feature-store
    # join that consumes scd2's validity intervals: build history, probe
    # facts against the state ACTIVE at fact time — the label-leakage
    # guard); one user-keyed equi-join with interval-containment residual
    "point_in_time_state",
    # neyman_allocation — variance-optimal budget allocation across strata
    # (Neyman 1934; derives the proportions mixture_resample executes);
    # DECIMAL sufficient statistics, quantized-weight DECIMAL total,
    # exact largest-remainder rounding to the budget
    "neyman_allocation",
    # dedup_time_window — tumbling-window first-event dedup (at-least-once
    # ingestion idempotency; the batch form of a streaming
    # dropDuplicatesWithinWatermark); one bucket-keyed window
    "dedup_time_window",
    # cms_token_counts — Count-Min sketch build + probe with measured
    # one-sided error vs exact counts (the mergeable turnstile sketch;
    # uniquely SQL-oracle-able bit-exactly — pure integer portable-hash
    # arithmetic, bounded DEPTH×WIDTH cell relation)
    "cms_token_counts",
    # minhash_jaccard_estimate — sketch-ESTIMATOR accuracy eval (MinHash
    # component-match estimate vs exact df-capped Jaccard per LSH candidate
    # pair; dedup_pr_eval prices recall, this prices the estimator itself)
    "minhash_jaccard_estimate",
    # attribution_last_touch — last-touch conversion attribution (LOCF
    # carry of the last non-purchase touchpoint within a 7-day lookback +
    # channel rollup); one user-partitioned running window
    "attribution_last_touch",
    # ann_recall_eval — recall@k of the IVF index vs the exact brute-force
    # ground truth (the retrieval twin of dedup_pr_eval; both sides are the
    # repo's own oracled ANN queries reused verbatim)
    "ann_recall_eval",
    # source_lang_hhi — per-source language-mix concentration (HHI + top
    # share; entropy avoided — ln is libm, the token_pmi rule); the
    # corpus collapses to dimension-bounded (source, lang) cells in one
    # combinable pass
    "source_lang_hhi",
    # concurrent_orders — interval-stabbing sweep-line concurrency count
    # (boundary deltas → day-dimension prefix sum; the operator neither
    # engine ships natively); integer-only, one combinable groupBy
    "concurrent_orders",
    # basket_pairs — market-basket association mining (Apriori L2:
    # support/confidence/lift over same-order part pairs); basket-bounded
    # self-join fan-out, broadcast item supports, 1-row basket total
    "basket_pairs",
    # token_pmi — PMI-style co-occurrence lift (collocation mining) beside
    # tfidf_top_terms/bm25_rank in the corpus-statistics family; the
    # df-band + bounded self-join shape mirrors dedup_ngram_jaccard's
    # CORR-pinned discipline
    "token_pmi",
}

# Every family dict once, in registration order. Each name lands in exactly
# one of the two maps below: the registered sweep (ALL_QUERIES) or the
# sweep-capped pytest oracle lane (UNREGISTERED_QUERIES, which
# tests/test_entry_queries.py and scripts/plan_audit.py consume;
# test_every_unregistered_name_is_collected pins that every _UNREGISTERED
# name is collected).
_FAMILIES = (
    RELATIONAL_QUERIES,
    TEXTOPS_QUERIES,
    ADVANCED_QUERIES,
    DISAMBIG_QUERIES,
    MLOPS_QUERIES,
)
UNREGISTERED_QUERIES: dict[str, tuple] = {
    n: v for d in _FAMILIES for n, v in d.items() if n in _UNREGISTERED
}

ALL_QUERIES: dict[str, tuple] = {
    **KG_QUERIES,
    **{k: v for d in _FAMILIES for k, v in d.items() if k not in _UNREGISTERED},
}
assert len(ALL_QUERIES) <= 50, "driver sweep records at most 50 rows"
