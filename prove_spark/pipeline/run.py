"""End-to-end KG-construction pipeline driver.

build_triples(spark, transcripts) wires the stages (stages.py) plus
canonicalization into one lazy DataFrame plan; run_checkpointed(...) adds the
materialization + per-bucket checkpoint manifest for resume
(pipeline/checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from . import stages
from .canonicalize import canonical_map_df, rekey_triples

# single source of truth for the triples output contract: name order is the
# projection build_triples ends with, and the DDL is what the empty-table
# fallback (pipeline/checkpoint.py) synthesizes when a run writes zero rows —
# deriving both from one list means they cannot drift apart.
TRIPLE_FIELDS = [
    ("subj", "string"),
    ("pred", "string"),
    ("obj", "string"),
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("claim_id", "string"),
    ("verdict", "string"),
    ("malon", "string"),
    ("score", "double"),
    ("result_sentence", "string"),
    ("w_supports", "double"),
    ("w_refutes", "double"),
    ("w_nei", "double"),
]
TRIPLE_COLUMNS = [name for name, _ in TRIPLE_FIELDS]
TRIPLES_DDL = ", ".join(f"{name} {typ}" for name, typ in TRIPLE_FIELDS)


# Lazy PLAN memo (r6, guide §1 driver-time): (appId, id(transcripts),
# config, persist_sentences) → (transcripts, base, verbalized, final).
# Plan CONSTRUCTION for the full pipeline costs ~0.5-0.8 s of pure driver
# time (py4j + eager re-analysis of the deepest plan in the repo) and was
# re-paid inside every timed bench run and every kg_* registered query.
# This memoizes the lazy DataFrame objects ONLY — no result or data caching:
# every invocation still re-persists + re-materializes the intermediates
# and every action recomputes from the parquet inputs (clearCache between
# bench runs empties the caches; the eager count below refills them each
# call). The transcripts DF rides in the value so id() cannot be recycled
# onto a different live object; the identity check guards staleness anyway.
_PLAN_MEMO: dict = {}


def build_triples(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    persist_sentences: bool = True,
    eager_cache: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """transcripts → canonical triples DataFrame.

    eager_cache materializes the persisted intermediates with a count()
    BEFORE the plan is returned: the final action's DAG has 3-4 independent
    sibling stages all rooted at `base` / `verbalized`, and Spark schedules
    them concurrently — against a not-yet-materialized cache each sibling
    recomputes the full input (measured 4 concurrent ~7.5 s stages doing
    identical extraction work). One eager materialization turns that into
    one compute + N cache reads. Set eager_cache=False for a fully lazy plan.
    """
    key = (
        spark.sparkContext.applicationId,
        id(transcripts),
        config,
        persist_sentences,
    )
    hit = _PLAN_MEMO.get(key)
    if hit is None or hit[0] is not transcripts:
        # list() snapshots the keys atomically: bucket groups plan on two
        # threads (pipeline/checkpoint.py), and the other may insert meanwhile
        for k in [k for k in list(_PLAN_MEMO) if k[0] != key[0]]:
            _PLAN_MEMO.pop(k, None)
        base = stages.extract_sentences(transcripts, config)
        # base sentences feed BOTH claim detection and the evidence pool;
        # persisted (below, per call) so the text-heavy extraction kernel
        # runs once. At warehouse scale this would be a materialized
        # intermediate table bucketed by conv_id.
        evidence_pool = stages.with_slide_windows(base, config)

        claims = stages.detect_claims(base, config)
        linked = stages.link_and_filter(claims, spark)
        # verbalized feeds BOTH the scoring chain and the final claim-set
        # join — persisted (below) so mention detection + linking run once
        # instead of twice. Pre-partition it by conv_id BEFORE the cache:
        # every downstream consumer (pair join, claim-attribute rejoin,
        # verdict agg) requires hash(conv_id)-compatible clustering, so one
        # claim-scale exchange here replaces one per consumer
        # (InMemoryRelation preserves its child's outputPartitioning).
        verbalized = stages.verbalize(linked, config).repartition("conv_id")
        scored = stages.score_evidence(verbalized, evidence_pool, config)
        verdicts = stages.entail_and_verdict(scored, config)

        # Every detected claim reaches the verdict aggregation: its own
        # sentence is always in the evidence pool, so the pair join keeps
        # >=1 row per claim and top-k keeps >=1 of those; the
        # below-threshold NEI default (claim_entailment.py:67-68) is applied
        # INSIDE entail_and_verdict's conditional agg. No claims-side rejoin
        # needed — verdicts IS the full claim set (structural invariant,
        # pinned by the golden suite). result_sentence (A4 second half,
        # claim_entailment.py:126-146) arrives ON the verdicts rows: the
        # winning text is max_by'd inside the verdict agg from the already-
        # top-k'd pairs (see entail_and_verdict), so no second join against
        # the sentence pool is needed.
        full = verdicts.select(
            "conv_id",
            "claim_id",
            "sent_id",
            "subj_qid",
            F.col("property_id").alias("pred"),
            "obj_qid",
            "verdict",
            "malon",
            "score",
            "turn_idx",
            "result_sentence",
            "w_supports",
            "w_refutes",
            "w_nei",
        )

        canon = canonical_map_df(spark)
        final = rekey_triples(full, canon).select(*TRIPLE_COLUMNS)
        hit = (transcripts, base, verbalized, final)
        _PLAN_MEMO[key] = hit
    _, base, verbalized, final = hit
    if persist_sentences:
        # persist() only MARKS the lazy plans for caching — calling it again
        # on an already-marked DF is a no-op, and after a clearCache() (the
        # bench does one between timed runs) it re-marks them, so every
        # invocation re-materializes from the parquet inputs.
        base.persist()
        verbalized.persist()
        if cache_registry is not None:
            cache_registry.extend([base, verbalized])
        if eager_cache:
            # ONE blocking action materializes BOTH caches: verbalized is a
            # full downstream of base (detect_claims reads every partition),
            # so this count populates base's cache on the way — the old
            # two-count version paid a second job's fixed scheduling cost
            # for nothing, pure serial floor in the scaling measurement.
            verbalized.count()
    return final


def build_entities(
    spark: SparkSession,
    triples: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """The `entities` dimension table (BASELINE.json: 'materializing triple
    and entity Iceberg tables'): one row per canonical entity with its label,
    member QIDs, and triple-participation stats from the fact table."""
    from ..sources.dims import session_dim
    from .canonicalize import canonical_map_df, entity_dim

    canon = canonical_map_df(spark)
    labels = session_dim(spark, "entity_dim", entity_dim)
    dim = (
        canon.join(labels, "qid")
        .withColumn(
            "qid_n", F.regexp_extract("qid", r"(\d+)", 1).cast("long")
        )
        .groupBy("canonical_qid")
        .agg(
            # NUMERIC min-QID member's label — lexicographic qid order would
            # pick Q209 over Q9 and disagree with the canonical representative
            F.min_by("label", "qid_n").alias("label"),
            # canonical hashable rendering (an ArrayType column surfaces as
            # a numpy array in pandas and crashes driver-side sort/hash
            # canonicalization — same failure class as MapType)
            F.array_join(
                F.sort_array(F.collect_set("qid")), ","
            ).alias("member_qids"),
        )
    )
    subj_stats = triples.groupBy(F.col("subj").alias("canonical_qid")).agg(
        F.count("*").alias("n_subj_claims"),
        F.sum(F.when(F.col("verdict") == config.classes[0], 1).otherwise(0)).alias(
            "n_subj_supports"
        ),
    )
    obj_stats = triples.groupBy(F.col("obj").alias("canonical_qid")).agg(
        F.count("*").alias("n_obj_claims")
    )
    return (
        dim.join(subj_stats, "canonical_qid", "left")
        .join(obj_stats, "canonical_qid", "left")
        .na.fill(0, ["n_subj_claims", "n_subj_supports", "n_obj_claims"])
    )


def entity_rollup(
    triples: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """A6: per-entity verdict counts + proveScore = (supports-refutes)/total
    over ALL FOUR verdict lanes (reference: functions.py:383-398 counts
    refuting/inconclusive/supportive/irretrievable — the error lane is in
    the denominator). Uses a two-phase (salted) aggregation via the generic
    skew helper so hot entities don't bottleneck one reducer.
    """
    from ..operators.skew import salted_count_pivot

    return salted_count_pivot(
        triples,
        key="subj",
        pivot_col="verdict",
        pivot_values=list(config.classes) + [config.error_class],
        aliases=["n_supports", "n_refutes", "n_nei", "n_errors"],
    ).withColumn(
        "prove_score",
        (F.col("n_supports") - F.col("n_refutes"))
        / (
            F.col("n_supports")
            + F.col("n_refutes")
            + F.col("n_nei")
            + F.col("n_errors")
        ),
    )
