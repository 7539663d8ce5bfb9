"""Entity canonicalization, and the connected-components core it shares.

The job's canonical map is a driver-side union-find (`union_find_local`)
over same-as edges from the static entity dictionary: canonical-label
equality plus seed same-as pairs (dictionaries.SAME_AS_SEED). The component
representative is the minimum numeric QID, and triples are re-keyed to it
with a broadcast join (the map is entity-dimension-sized, always ≪ the fact
table). The dictionary is a literal, so building the map runs no Spark job.

`connected_components_long` is the distributed CC for data-derived edge
sets too large to collect (the LSH near-dup clusters of plans/textops.py):
alternating large-star/small-star (Kiveris et al. 2014, the GraphFrames/
MapReduce CC algorithm) via plain DataFrame joins, run to fixpoint in
O(log diameter) rounds, each one self-join + one min-aggregation on the
edge set, never the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..dictionaries import ENTITIES, SAME_AS_SEED


def entity_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(pd.DataFrame(ENTITIES, columns=["qid", "label"]))


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond', §3): every node connects its STRICTLY LARGER neighbors to
    its minimum neighborhood label m = min(N(u) ∪ {u}). Output edges are
    directed big→small (u > v)."""
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """Small-star round: on big→small edges, every node rewires all its
    (smaller) neighbors AND itself to m = min(N(u)). Keeps edges directed
    big→small."""
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        directed.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = m.select("u", F.col("m").alias("v"))
    return (
        rewired.unionByName(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_long(
    edges_uv: DataFrame,
    max_iterations: int = DEFAULT_CONFIG.max_cc_iterations,
    require_converged: bool = False,
) -> DataFrame:
    """Long-keyed CC core: edges (u, v long) → (u, root) for every node that
    appears in an edge, root = the component's minimum id.

    Alternating large-star/small-star (Kiveris et al. 2014): converges in
    O(log d) rounds on component diameter d — a 2^20-node chain finishes in
    ~20 rounds where min-label propagation needs 2^20. Each round is one
    self-join + one min-aggregation on the EDGE set (candidate-pair-sized,
    never the corpus), so it serves data-derived edge sets like LSH
    near-dup candidates (plans/textops.py:dedup_lsh_clusters).

    If the loop exhausts max_iterations before the set-equality fixpoint,
    the min-aggregation still emits a label per node but components may be
    FRAGMENTED (correct within, not across, the unresolved star forest).
    require_converged=True turns that silent truncation into a ValueError,
    for callers whose contract is exactness against a fixpoint oracle; the
    default stays lenient for parity with the previous behavior."""
    cur = (
        edges_uv.select("u", "v")
        .unionByName(
            edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = None
    converged = False
    for _ in range(max_iterations):
        star = _large_star(
            cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        nxt = _small_star(star).localCheckpoint(eager=True)  # cut lineage per round
        if prev is not None:
            # set-equality fixpoint test on the (dim-sized) directed edges
            delta = nxt.exceptAll(prev).limit(1).count() + prev.exceptAll(
                nxt
            ).limit(1).count()
            if delta == 0:
                cur = nxt
                converged = True
                break
        prev = nxt
        cur = nxt
    if require_converged and not converged:
        raise ValueError(
            f"connected components did not reach the star-forest fixpoint "
            f"in {max_iterations} iterations; raise max_iterations "
            f"(O(log diameter) rounds suffice)"
        )
    parent = cur.groupBy("u").agg(F.min("v").alias("root"))
    # at fixpoint the star forest has edges u→root only for u != root, so
    # the representative itself has no row — emit its self-row so every
    # edge-touched node appears exactly once (cluster sizes depend on it)
    roots = parent.select(F.col("root").alias("u"), F.col("root"))
    return parent.unionByName(roots).distinct()


def union_find_local(qids: list[str], edges: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find for dimension-sized vertex sets: the job's
    canonicalization path.

    The entity dictionary is a broadcast-sized dimension (thousands–millions
    of rows, ≪ the fact table); running a distributed fixpoint over it costs
    O(iterations) blocking Spark jobs of pure scheduling overhead. Path-
    compressed union-find on the driver is exact, O(E α(V)), and maps every
    qid to its component's min-numeric-QID representative.
    `connected_components_long` above is the path for edge sets too large
    to collect.
    """
    from ..dictionaries import qid_num  # single source of the min-QID rule

    parent = {q: q for q in qids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if qid_num(rb) < qid_num(ra):
            ra, rb = rb, ra
        parent[rb] = ra
    return {q: find(q) for q in qids}


def canonical_map_df(spark: SparkSession) -> DataFrame:
    """(qid, canonical_qid) map: driver union-find over the static entity
    dictionary (no Spark jobs — the dictionaries are literals), built once
    per session."""
    from ..sources.dims import session_dim

    return session_dim(spark, "canonical_map", _build_canonical_map)


def _build_canonical_map(spark: SparkSession) -> DataFrame:
    qids = [q for q, _ in ENTITIES]
    label_of: dict[str, list[str]] = {}
    edges: list[tuple[str, str]] = list(SAME_AS_SEED)
    for q, label in ENTITIES:
        label_of.setdefault(label, []).append(q)
    for group in label_of.values():
        edges.extend((group[0], other) for other in group[1:])
    mapping = union_find_local(qids, edges)
    pdf = pd.DataFrame(
        sorted(mapping.items()), columns=["qid", "canonical_qid"]
    )
    return spark.createDataFrame(pdf)


def rekey_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Broadcast re-key of subj/obj to canonical ids (fact side: map-only)."""
    c_subj = canon.select(
        F.col("qid").alias("subj_qid"), F.col("canonical_qid").alias("subj")
    )
    c_obj = canon.select(
        F.col("qid").alias("obj_qid"), F.col("canonical_qid").alias("obj")
    )
    return (
        triples.join(F.broadcast(c_subj), "subj_qid", "left")
        .join(F.broadcast(c_obj), "obj_qid", "left")
        # single transformation (withColumns) instead of two withColumn
        # steps: one less eager re-analysis of the full pipeline plan (r6)
        .withColumns(
            {
                "subj": F.coalesce("subj", "subj_qid"),
                "obj": F.coalesce("obj", "obj_qid"),
            }
        )
    )
