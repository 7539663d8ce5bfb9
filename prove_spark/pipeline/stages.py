"""Spark DataFrame stages of the KG-construction pipeline.

Operator DAG (reference lifecycle: SURVEY.md §3.1, ProVe_main_process.py:18-61),
re-expressed Spark-first:

  transcripts
    └─ extract_sentences     W4 turn ordering + C2 split (mapInPandas kernel)
         └─ with_slide_windows  C3 slide-2 via Window.lead (pure JVM)
    └─ detect_claims         mention regex kernel (mapInPandas)
         └─ link_and_filter  J7 broadcast alias join + F1-F4 filters
         └─ verbalize        M1 template verbalizer (Arrow kernel)
    └─ score_evidence        J9 conv_id join + M2 similarity + W1 top-k
    └─ entail_and_verdict    M3 NLI kernel + A2/A3 verdict aggregation

Shuffle budget (the thing that matters at 100 TB): exactly TWO fact-side
exchanges end to end —
  1. base sentences, hash(conv_id), for the slide window; the evidence pool
     (base + slides) is emitted from that SAME post-window stage via
     inline(), so a Generate preserves the partitioning and the pair join
     re-uses it (the union formulation re-shuffled the tokenized pool:
     583 MB extra at rep=64);
  2. claims, hash(conv_id), a claim-scale repartition materialized into the
     verbalized cache; the pair join, the top-k window, the verdict agg and
     the claim-attribute rejoin all run in that one partitioning
     (requireAllClusterKeysForCoPartition=false accepts the conv_id subset).
Entity disambiguation is pre-aggregated on the (tiny) dimension side and
broadcast — never a fact-side shuffle. Claim detection runs behind a cheap
predicate-pattern prefilter so the expensive mention regex touches ~1/4 of
sentences.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, SENT_ID_STRIDE, PipelineConfig
from ..dictionaries import (
    ALIASES,
    BAD_DATATYPES,
    BLACKLIST_PIDS,
    ENTITIES,
    PREDICATES,
)
from ..functions import jvm_kernels as J  # codegen expression twins
from ..functions import text as K  # shared deterministic kernels (Arrow path)

CLASSES = list(DEFAULT_CONFIG.classes)


# --------------------------------------------------------------------------
# dimension tables (broadcast side)
# --------------------------------------------------------------------------
def alias_dim(spark: SparkSession) -> DataFrame:
    """alias → candidate qid rows (may be ambiguous)."""
    pdf = pd.DataFrame(ALIASES, columns=["alias", "qid"])
    labels = pd.DataFrame(ENTITIES, columns=["qid", "label"])
    return spark.createDataFrame(pdf.merge(labels, on="qid"))


def resolved_alias_dim(spark: SparkSession) -> DataFrame:
    """Disambiguated alias dimension: each alias resolved to its most-POPULAR
    candidate QID by sitelink count from the external sitelinks CSV
    (reference functions.py:642-669; S9/J8 — sources/popularity.py), numeric
    QID breaking ties. datagen/oracle share the rule via
    dictionaries.resolve_alias_map, so a skew between the CSV path and the
    literal rule fails the golden suite ('the professor' must resolve to Q11
    by popularity, against the min-QID prior Q7).

    Scale note: disambiguation runs on the DIMENSION (thousands of rows), not
    the fact table — the fact side then needs only a broadcast hash join.
    Session-cached: static dims are built once per SparkSession.
    """
    from ..sources.dims import session_dim
    from ..sources.popularity import read_popularity

    def build(s: SparkSession) -> DataFrame:
        dim = alias_dim(s).withColumn(
            "qid_n", F.regexp_extract("qid", r"(\d+)", 1).cast("long")
        )
        pop = read_popularity(s)
        ranked = dim.join(F.broadcast(pop), "qid", "left").withColumn(
            "pop_key",
            F.struct(
                F.coalesce(F.col("n_connected_site"), F.lit(-1)).alias("n"),
                (-F.col("qid_n")).alias("neg_qid"),
            ),
        )
        resolved = ranked.groupBy("alias").agg(
            F.max_by("qid", "pop_key").alias("qid"),
            F.max_by("label", "pop_key").alias("label"),
        )
        # Materialize the DIMENSION to local rows once per session (r6,
        # guide §1 driver-time): the CSV scan + popularity ranking still
        # run through the real Spark path (this is where a CSV-vs-rule
        # skew would surface), but repeat pipeline runs then broadcast a
        # LocalTableScan instead of re-running the two dim aggregation
        # jobs + exchanges per invocation (measured: ~17 executor-run-s +
        # two broadcast-build job waves per kg run at bench scale).
        # Dimension-scale by contract — thousands of rows, the classic
        # collect-and-broadcast dim pattern, independent of sf_dir.
        return s.createDataFrame(resolved.collect(), schema=resolved.schema)

    return session_dim(spark, "resolved_alias_dim", build)


def pred_dim(spark: SparkSession) -> DataFrame:
    from ..sources.dims import session_dim

    return session_dim(
        spark,
        "pred_dim",
        lambda s: s.createDataFrame(
            pd.DataFrame(
                PREDICATES,
                columns=["property_id", "pattern", "property_label", "datatype"],
            )
        ),
    )


# --------------------------------------------------------------------------
# stage 1 — turn assembly + sentence extraction (W4 + C2)
# --------------------------------------------------------------------------
SENT_SCHEMA = "conv_id string, sent_id long, sentence string"


def extract_sentences(transcripts: DataFrame, config: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-turn sentence split. sent_id = turn_idx*SENT_ID_STRIDE + 2k encodes the
    stable (conv_id, turn_idx, k) ordering without any cross-row state, so
    this stage is embarrassingly parallel (no shuffle).
    """
    max_chars = config.max_turn_chars
    if config.engine == "jvm":
        arr = J.sentences_expr(F.col("text"), max_chars)
        return transcripts.select(
            "conv_id", "turn_idx", F.posexplode(arr).alias("k", "sentence")
        ).select(
            "conv_id",
            (F.col("turn_idx").cast("long") * SENT_ID_STRIDE + 2 * F.col("k")).alias(
                "sent_id"
            ),
            "sentence",
        )

    def split_batch(batches):
        # batched twin of K.split_sentences: one vectorized split per batch,
        # explode, strip, drop empties, then cumcount-per-turn re-derives the
        # enumerate() k over the KEPT sentences (tests pin equality)
        for pdf in batches:
            # NULL text == no sentences (matches the JVM path, where
            # split(NULL) → NULL array → posexplode drops the row)
            text = pdf["text"].fillna("").astype(str).str.slice(0, max_chars)
            ex = (
                pdf[["conv_id", "turn_idx"]]
                .assign(sentence=text.str.split(K.SENT_SPLIT_RE))
                .explode("sentence")
            )
            ex["sentence"] = ex["sentence"].str.strip()
            ex = ex[ex["sentence"].notna() & (ex["sentence"] != "")]
            k = ex.groupby(level=0).cumcount()
            yield pd.DataFrame(
                {
                    "conv_id": ex["conv_id"],
                    "sent_id": ex["turn_idx"].astype("int64") * SENT_ID_STRIDE
                    + 2 * k,
                    "sentence": ex["sentence"],
                }
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        split_batch, schema=SENT_SCHEMA
    )


def with_slide_windows(
    sentences: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """C3: sliding window join of config.slide_window adjacent sentences
    (reference default 2), pure JVM via lead().

    The Window's sort-by-sent_id is also what enforces the stable
    (conv_id, turn_idx) ordering invariant (BASELINE.json per-row invariant).
    This is THE pipeline shuffle: hash partition by conv_id.
    """
    window = config.slide_window
    if window <= 1:
        # degenerate window: every sentence is its own slide (oracle
        # semantics for range(len-window+1) at window=1)
        return sentences.unionByName(
            sentences.select(
                "conv_id",
                (F.col("sent_id") + F.lit(1)).alias("sent_id"),
                "sentence",
            )
        )
    w = Window.partitionBy("conv_id").orderBy("sent_id")
    parts = [F.col("sentence")] + [
        F.lead("sentence", i).over(w).alias(f"_nxt{i}")
        for i in range(1, window)
    ]
    # Emit BOTH the base sentence and (where a full window exists) its slide
    # from the same post-window row via inline() — a Generate preserves the
    # window's hash(conv_id) partitioning, so the evidence pool leaves this
    # stage co-partitioned for the pair join. The union formulation
    # (base ∪ slides) destroyed that partitioning and forced the join to
    # RE-exchange the whole tokenized pool: measured 583 MB of extra shuffle
    # vs the single ~124 MB sentence exchange this shape keeps.
    base_struct = F.struct(
        F.col("sent_id").alias("sent_id"), F.col("sentence").alias("sentence")
    )
    slide_struct = F.struct(
        (F.col("sent_id") + F.lit(1)).alias("sent_id"),
        F.concat_ws(
            config.slide_join,
            F.col("sentence"),
            *[F.col(f"_nxt{i}") for i in range(1, window)],
        ).alias("sentence"),
    )
    rows = F.when(
        # a full window exists only where the furthest lead is non-null
        F.col(f"_nxt{window - 1}").isNotNull(),
        F.array(base_struct, slide_struct),
    ).otherwise(F.array(base_struct))
    return (
        sentences.select("conv_id", "sent_id", *parts)
        .select("conv_id", F.inline(rows))
    )


# --------------------------------------------------------------------------
# stage 2 — claim / mention detection (Arrow kernel)
# --------------------------------------------------------------------------
CLAIM_SCHEMA = (
    "conv_id string, sent_id long, claim_id string, "
    "subj_alias string, pattern string, obj_alias string"
)


def detect_claims(
    base_sentences: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    alias_list = sorted({a for a, _ in ALIASES})
    pattern_list = sorted({p for _, p, _, _ in PREDICATES})

    if config.engine == "jvm":
        # candidate prefilter: the expensive full claim regex only runs on
        # sentences containing a predicate pattern (a provable superset of
        # matches — see claim_prefilter_pattern). Dominant-CPU + worst-
        # scaling stage without it.
        base_sentences = base_sentences.where(
            J.claim_prefilter_expr(F.col("sentence"), pattern_list)
        )
        # r6 claim-regex budget: the normalize chain + (~90-alternation)
        # claim regex run EXACTLY ONCE per prefiltered sentence. The
        # matched text is emitted through a 1:1 explode(array(..)) — a
        # Generate is a predicate-pushdown barrier, so the acceptance
        # filter's four references resolve to the generated attribute
        # instead of four inlined copies of the regex (measured: the
        # pushed-down filter re-evaluated normalize+regex per reference —
        # runtime subexpression elimination did NOT merge them — at 0.25 s
        # per extra copy at bench scale; the barrier form is also faster
        # than a 1-reference filter, which still paid filter+project double
        # evaluation). The three capture groups are then pulled in ONE more
        # regex pass — regexp_replace to "$1\x01$2\x01$3" + split — on
        # ACCEPTED rows only, the split array likewise held in its own
        # projection. The claim regex is ^..$-anchored, so the matched text
        # `m` IS the normalized sentence and group extraction from `m` is
        # exactly group extraction from the original match (pinned by
        # tests/test_jvm_kernels.py + the golden suite).
        pat = J.claim_pattern(alias_list, pattern_list)
        norm = J.normalize_expr(F.col("sentence"))
        cand = base_sentences.select(
            "conv_id",
            "sent_id",
            F.explode(F.array(F.regexp_extract(norm, pat, 0))).alias("m"),
        ).where(
            (F.col("m") != "")
            & ~F.col("m").startswith("indeed ")
            & ~F.col("m").contains(" does not ")
            & ~F.col("m").contains(" never ")
        )
        g = cand.select(
            "conv_id",
            "sent_id",
            F.split(
                F.regexp_replace(F.col("m"), pat, "$1\x01$2\x01$3"),
                "\x01",
            ).alias("g"),
        )
        return g.select(
            "conv_id",
            "sent_id",
            F.concat_ws(":", "conv_id", "sent_id").alias("claim_id"),
            F.col("g").getItem(0).alias("subj_alias"),
            F.col("g").getItem(1).alias("pattern"),
            F.col("g").getItem(2).alias("obj_alias"),
        )

    from ..functions import arrow_kernels as AK

    # The superset prefilter runs JVM-SIDE even in the arrow engine: it is a
    # cheap filter (not a model stand-in), and pushing it ahead of the Arrow
    # boundary cuts the rows serialized into the Python worker ~4x — exactly
    # where a production pipeline would put a cheap candidate filter ahead
    # of an expensive model stage.
    base_sentences = base_sentences.where(
        J.claim_prefilter_expr(F.col("sentence"), pattern_list)
    )

    def detect_batch(batches):
        # batch-vectorized claim regex + rejection (arrow_kernels twin of
        # K.detect_claim; one C-loop extract pass per Arrow batch)
        for pdf in batches:
            g = AK.detect_claims_batch(
                pdf["sentence"], alias_list, pattern_list
            )
            keep = pdf[g["ok"].to_numpy()]
            gk = g[g["ok"].to_numpy()]
            yield pd.DataFrame(
                {
                    "conv_id": keep["conv_id"],
                    "sent_id": keep["sent_id"].astype("int64"),
                    "claim_id": keep["conv_id"].astype(str)
                    + ":"
                    + keep["sent_id"].astype(str),
                    "subj_alias": gk["subj_alias"],
                    "pattern": gk["pattern"],
                    "obj_alias": gk["obj_alias"],
                }
            )

    return base_sentences.mapInPandas(detect_batch, schema=CLAIM_SCHEMA)


# --------------------------------------------------------------------------
# stage 3 — entity linking + property filters (J7, F1-F4)
# --------------------------------------------------------------------------
def link_and_filter(claims: DataFrame, spark: SparkSession) -> DataFrame:
    preds = pred_dim(spark)
    resolved = resolved_alias_dim(spark)
    subj = resolved.select(
        F.col("alias").alias("subj_alias"),
        F.col("qid").alias("subj_qid"),
        F.col("label").alias("subj_label"),
    )
    obj = resolved.select(
        F.col("alias").alias("obj_alias"),
        F.col("qid").alias("obj_qid"),
        F.col("label").alias("object_label"),
    )
    return (
        claims.join(F.broadcast(preds), "pattern", "inner")
        # filters F2/F3 (wikidata_parser.py:211-215, 237-238) — applied before
        # any heavy stage so Catalyst prunes early
        .where(~F.col("datatype").isin(BAD_DATATYPES))
        .where(~F.col("property_id").isin(BLACKLIST_PIDS))
        .join(F.broadcast(subj), "subj_alias", "inner")
        .join(F.broadcast(obj), "obj_alias", "inner")
    )


# --------------------------------------------------------------------------
# stage 4 — verbalization (M1 template kernel)
# --------------------------------------------------------------------------
@F.pandas_udf(T.StringType())
def _verbalize_udf(s: pd.Series, p: pd.Series, o: pd.Series) -> pd.Series:
    from ..functions.arrow_kernels import verbalize_batch

    return verbalize_batch(s, p, o)


def verbalize(
    linked: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    if config.engine == "jvm":
        return linked.withColumn(
            "claim_verbalized",
            J.verbalize_expr(
                F.col("subj_label"),
                F.col("property_label"),
                F.col("object_label"),
            ),
        )
    return linked.withColumn(
        "claim_verbalized",
        _verbalize_udf("subj_label", "property_label", "object_label"),
    )


# --------------------------------------------------------------------------
# stage 5 — evidence pairing + retrieval scoring + top-k (J9, M2, W1)
# --------------------------------------------------------------------------
@F.pandas_udf(T.DoubleType())
def _similarity_udf(verb: pd.Series, sent: pd.Series) -> pd.Series:
    from ..functions.arrow_kernels import similarity_batch

    return similarity_batch(verb, sent)


def score_evidence(
    claims: DataFrame,
    evidence_sentences: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Pair every claim with every sentence of its conversation (the
    reference pairs claim × all sentences of its reference page,
    refs_html_to_evidences.py:180-191) — an equi join on conv_id + window
    top-k, NOT a cross join.
    """
    # NARROW the pairing inputs: only the keys + what the scorer needs ride
    # through the pair explosion; claim attributes (labels, qids) are joined
    # back AFTER top-k, at claim scale, not pair scale. Carrying wide rows
    # through a 1-to-N pair join is the classic 100 TB mistake.
    #
    # JVM engine: tokenize ONCE per sentence / per claim (linear), carry the
    # token-set arrays through the join, per-pair work = set algebra only.
    # Arrow engine: carry the strings; the pandas kernel memoizes token sets.
    if config.engine == "jvm":
        # ev_sentence rides along so the verdict agg can emit the winning
        # evidence TEXT (result_sentence) without a second pool join: the
        # WindowGroupLimit below cuts pairs to <=k per claim BEFORE the
        # exchange, so the string column is shuffled at claim scale only.
        # SQL-string expressions (r6): one server-side parse per projection
        # instead of ~40 py4j round trips of driver time per invocation.
        ev = evidence_sentences.selectExpr(
            "conv_id",
            "sent_id AS ev_sent_id",
            J.token_set_sql("sentence") + " AS ev_tokens",
            "sentence AS ev_sentence",
        )
        claim_keys = claims.selectExpr(
            "conv_id",
            "claim_id",
            J.token_set_sql("claim_verbalized") + " AS verb_tokens",
        )
        sim = F.expr(
            J.similarity_from_tokens_sql("verb_tokens", "ev_tokens")
        )
        # r6: ev_tokens is dropped as soon as the scorer has consumed it —
        # the explicit post-join projection keeps the token arrays OUT of
        # the pair-set top-k sort (the widest sort in the pipeline; the
        # tokens roughly doubled its per-row payload). entail_and_verdict
        # re-tokenizes ev_sentence at top-k scale (≤ k rows per claim)
        # instead — strictly less work than sorting the arrays through the
        # full pair set.
        pair_drop = ["rank"]
    else:
        ev = evidence_sentences.select(
            "conv_id",
            F.col("sent_id").alias("ev_sent_id"),
            F.col("sentence").alias("ev_sentence"),
        )
        claim_keys = claims.select("conv_id", "claim_id", "claim_verbalized")
        sim = _similarity_udf("claim_verbalized", "ev_sentence")
        pair_drop = ["rank", "claim_verbalized"]
    # FORCE the shuffle join: if the claims side happens to fit under the
    # broadcast threshold (it does at bench scale, never at 100 TB), a BHJ
    # would leave the pair output in the evidence pool's (unknown, post-
    # union) partitioning and the downstream window would then exchange the
    # full pair set — measured 583 MB vs the 124 MB co-partitioned shuffle
    # this hint preserves. With "merge", both sides land hash(conv_id) and
    # the window + verdict agg + claim rejoin all reuse that one exchange.
    paired = claim_keys.hint("merge").join(ev, "conv_id", "inner")
    # Both engines score map-side: Spark's partial WindowGroupLimit cuts the
    # shuffle to ≤k rows per (claim, map partition) before the exchange; at
    # 100 TB that's the difference between shuffling all pairs and
    # ~top-k·claims rows.
    # r6: one explicit projection computes the score and (on the jvm
    # engine) drops both token arrays before the window — each avoided
    # DataFrame transformation here is one fewer eager re-analysis of the
    # deepest plan in the pipeline (driver plan-construction measured ~1 s
    # of the timed kg wall before this restructure).
    if config.engine == "jvm":
        paired = paired.select(
            "conv_id",
            "claim_id",
            "ev_sent_id",
            "ev_sentence",
            sim.alias("similarity_score"),
        )
    else:
        paired = paired.withColumn("similarity_score", sim)
    # Tie-break matches the oracle: (sim desc, ev_sent_id asc).
    # Below-threshold rows are NOT dropped here: they ride into the verdict
    # aggregation flagged `passed=false` so every claim keeps >=1 row and the
    # below-threshold default (claim_entailment.py:67-68) is applied by a
    # conditional agg instead of an extra claims-side rejoin (saves two
    # claim-scale exchanges at 100 TB).
    w = Window.partitionBy("conv_id", "claim_id").orderBy(
        F.desc("similarity_score"), F.asc("ev_sent_id")
    )
    keep = [c for c in paired.columns if c not in pair_drop]
    topk = (
        paired.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= config.top_k_evidence)
        .select(
            *keep,
            (
                F.col("similarity_score") > config.similarity_threshold
            ).alias("passed"),
        )
    )
    # claim attributes rejoin at claim scale (top-k rows per claim).
    # Joining on (conv_id, claim_id) — claim_id functionally determines
    # conv_id, so semantics are identical to a claim_id join — lets the
    # window output's existing hash(conv_id) partitioning AND its
    # (conv_id, claim_id, …) sort order satisfy the join requirements:
    # no pairs-side exchange, no re-sort (measured: a 60 MB shuffle stage
    # disappears from the plan). Only the (claim-scale) claims side moves.
    return topk.join(claims, ["conv_id", "claim_id"], "inner")


# --------------------------------------------------------------------------
# stage 6 — NLI entailment + verdict algebra (M3, A2, A3, C15)
# --------------------------------------------------------------------------
@F.pandas_udf(T.ArrayType(T.DoubleType()))
def _nli_udf(
    subj: pd.Series, obj: pd.Series, verb: pd.Series, sent: pd.Series
) -> pd.Series:
    from ..functions.arrow_kernels import nli_batch

    return nli_batch(subj, obj, verb, sent)


def _argmax_label(prob_cols: list, classes: list[str] | None = None) -> F.Column:
    """C15: first-max argmax over the 3 class scores → label (JVM-side)."""
    cls = classes if classes is not None else CLASSES
    mx = F.greatest(*prob_cols)
    expr = F.lit(cls[2])
    for i in reversed(range(2)):
        expr = F.when(prob_cols[i] == mx, F.lit(cls[i])).otherwise(expr)
    return expr


def entail_and_verdict(
    evidence: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """A2 weighted-sum verdict + A3 MALON priority label per claim.

    groupBy keys start with conv_id → no exchange (see module docstring).
    Weighted sums are exact (kernels emit dyadic-rational scores), so the
    argmax agrees with the pandas oracle bit-for-bit.
    """
    # Expressions below are SQL strings parsed server-side (r6): the Column
    # API form of this stage alone cost ~2,400 py4j round trips (1-3 s of
    # driver time, inside the timed kg region) per plan construction.
    if config.engine == "jvm":
        # r6: the evidence sentence is re-tokenized HERE, at top-k scale
        # (≤ k rows per claim — the pair join's WindowGroupLimit already
        # cut the flood), so the token arrays never ride the pair-set sort
        # (see score_evidence). Codegen subexpression elimination computes
        # the token set once per row across the subset checks. Null input →
        # null te_probs (explicitly: nli_from_tokens's when-chain would
        # otherwise null-propagate into the NEI branch and silently
        # mislabel a failed upstream row as real signal); token_set maps
        # null → null, so the ev_sentence guard is the old ev_tokens guard
        # verbatim.
        te_sql = (
            "CASE WHEN ev_sentence IS NOT NULL THEN "
            + J.nli_from_tokens_sql(
                J.token_set_sql("subj_label"),
                J.token_set_sql("object_label"),
                J.token_set_sql("claim_verbalized"),
                J.token_set_sql("ev_sentence"),
            )
            + " END"
        )
        probs = evidence.selectExpr("*", te_sql + " AS te_probs")
    else:
        te = F.when(
            F.col("ev_sentence").isNotNull(),
            _nli_udf(
                "subj_label", "object_label", "claim_verbalized", "ev_sentence"
            ),
        )
        probs = evidence.select("*", te.alias("te_probs"))
    classes = list(config.classes)
    # error lane (reference 'irretrievable' analog): a kernel output that is
    # null or contains NaN is unusable evidence, never silent NEI
    invalid_sql = (
        "(te_probs IS NULL OR exists(te_probs, x -> x IS NULL OR isnan(x)))"
    )
    # C15 argmax (first-max over the 3 class scores), flattened CASE —
    # identical branch order to _argmax_label
    gmax = "greatest(te_probs[0], te_probs[1], te_probs[2])"
    ev_label_sql = (
        f"CASE WHEN te_probs[0] = {gmax} THEN '{classes[0]}'"
        f" WHEN te_probs[1] = {gmax} THEN '{classes[1]}'"
        f" ELSE '{classes[2]}' END"
    )
    probs = probs.selectExpr(
        "*", invalid_sql + " AS invalid", ev_label_sql + " AS ev_label"
    )
    passed_sql = "(passed AND NOT invalid)"
    defaults = list(config.default_probs)
    # group by (conv_id, claim_id) ONLY — the exact prefix of the upstream
    # window's sort order, so SortAggregate's required child ordering is
    # already satisfied and NO re-sort of the evidence rows is inserted
    # (grouping by the full 9-column key forced a fresh 9-key sort of every
    # evidence row). The remaining claim attributes are constant per claim
    # and ride through as max() aggregates.
    attrs = [
        "sent_id",
        "subj_qid",
        "property_id",
        "obj_qid",
        "subj_label",
        "property_label",
        "object_label",
    ]
    agg_exprs = [f"MAX({a}) AS {a}" for a in attrs]
    # conditional sums: only threshold-passing evidence contributes; a
    # claim with none gets NULL → coalesced to the default distribution
    # (claim_entailment.py:67-68) without a second claims join
    agg_exprs += [
        f"COALESCE(SUM(CASE WHEN {passed_sql} THEN"
        f" (te_probs[{i}] * similarity_score) END),"
        f" {float(defaults[i])!r}D) AS w{i}"
        for i in range(3)
    ]
    # per-label kept counts: drive n_evidence, A3 MALON (any SUPPORTS >
    # any REFUTES > NEI), and the reference's
    # modal result-sentence selection in one pass
    agg_exprs += [
        f"COUNT(CASE WHEN ({passed_sql} AND ev_label = '{classes[i]}')"
        f" THEN 1 END) AS c{i}"
        for i in range(3)
    ]
    # invalid counts only among THRESHOLD-PASSING rows: a below-threshold
    # invalid row was never usable signal, so it must not flip a normal
    # default-NEI claim into the error lane (the raw `passed` flag here,
    # not the invalid-masked one)
    agg_exprs += ["COUNT(CASE WHEN (passed AND invalid) THEN 1 END) AS n_invalid"]
    # A4 second half (claim_entailment.py:126-146): first kept sentence
    # PER LABEL, "first" = the evidence ordering (sim desc, sent_id asc).
    # The text arrives here already claim-scale: the pair join's partial
    # WindowGroupLimit cut to <=k rows per claim before the exchange, so
    # min_by over the string is strictly cheaper than a second join
    # against the (sentence-scale) evidence pool — measured ~2.7 s of an
    # 8 s pipeline at rep=16.
    agg_exprs += [
        f"MIN_BY(ev_sentence, CASE WHEN ({passed_sql}"
        f" AND ev_label = '{classes[i]}')"
        " THEN named_struct('nsim', -similarity_score,"
        " 'sid', ev_sent_id) END) AS fs" + str(i)
        for i in range(3)
    ]
    agg = probs.groupBy("conv_id", "claim_id").agg(
        *[F.expr(e) for e in agg_exprs]
    )
    # a claim whose usable evidence was ALL lost to kernel failures is
    # 'error', never a silent default-NEI (reference irretrievable lane)
    err_sql = "(n_invalid > 0 AND (c0 + c1 + c2) = 0)"
    wmax = "greatest(w0, w1, w2)"
    # r6: the old 9-step withColumn chain re-analyzed the full (deepest-in-
    # the-pipeline) plan once per step on the driver; the same columns in
    # the same order are produced by TWO projections (score/result_sentence
    # reference the verdict/count columns by name, so they live one select
    # later). Semantics and output order are unchanged; the verdict CASE is
    # the flattened when(is_error).otherwise(argmax) chain.
    mid = agg.selectExpr(
        "*",
        "(c0 + c1 + c2) AS n_evidence",
        f"CASE WHEN {err_sql} THEN '{config.error_class}'"
        f" WHEN w0 = {wmax} THEN '{classes[0]}'"
        f" WHEN w1 = {wmax} THEN '{classes[1]}'"
        f" ELSE '{classes[2]}' END AS verdict",
        f"CASE WHEN {err_sql} THEN '{config.error_class}'"
        f" WHEN c0 > 0 THEN '{classes[0]}'"
        f" WHEN c1 > 0 THEN '{classes[1]}'"
        f" ELSE '{classes[2]}' END AS malon",
    )
    passthrough = [
        c
        for c in mid.columns
        if c not in ("n_invalid", "c0", "c1", "c2", "fs0", "fs1", "fs2")
    ]
    # verdict/malon must sit exactly where the old chain appended them
    # (right after n_evidence), and score/w_*/result_sentence/turn_idx
    # follow — same order as before. C18: the w_* distribution stays three
    # fixed-order double columns, null for error claims; result_sentence is
    # the reference get_final_verdict rule (first SUPPORTS sentence if any,
    # else the first sentence of the MODAL label — "NOT ENOUGH INFO" <
    # "REFUTES", so REFUTES wins only on a strict count majority).
    return mid.selectExpr(
        *passthrough,
        f"CASE WHEN {err_sql} THEN 0.0D"
        f" WHEN verdict = '{classes[0]}' THEN w0"
        f" WHEN verdict = '{classes[1]}' THEN w1"
        " ELSE w2 END AS score",
        f"CASE WHEN NOT {err_sql} THEN w0 END AS w_supports",
        f"CASE WHEN NOT {err_sql} THEN w1 END AS w_refutes",
        f"CASE WHEN NOT {err_sql} THEN w2 END AS w_nei",
        f"CASE WHEN {err_sql} THEN CAST(NULL AS STRING)"
        " WHEN c0 > 0 THEN fs0"
        " WHEN c1 > c2 THEN fs1"
        " ELSE fs2 END AS result_sentence",
        f"CAST(sent_id / {SENT_ID_STRIDE} AS INT) AS turn_idx",
    )
