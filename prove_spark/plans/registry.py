"""Unified query registry: name → (spark_fn, oracle_sql | None).

Drives __spark_entry__.queries()/oracle_sql(). The KG-pipeline queries ARE
SQL-oracled (plans/kg_oracle.py re-derives transcripts → triples entirely in
DuckDB: the derivation is deterministic arithmetic over `documents` and the
kernels are regex/set algebra), on top of the pytest golden suite against
the pandas oracle (tests/test_pipeline_golden.py).

Ordering/size: the KG lane leads and the registry is capped at 50 entries —
the driver sweep records at most 50 rows, and every registered query must
get a row. Queries beyond the cap are intentionally unregistered (see
_UNREGISTERED below; each still oracle-checked in pytest via
tests/test_entry_queries.py's unregistered lane, and exposed through
__spark_entry__.unregistered() so the exclusion is visible at runtime).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .advanced import ADVANCED_QUERIES
from .iterstate import truncate_round
from .disambig import DISAMBIG_QUERIES
from .lmops import LMOPS_QUERIES
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


def kg_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999) over the constructed KG —
    the graph family's eighth signal (role separation: entities that POINT
    AT important things vs entities important things point at — a mutual
    two-vector recursion PageRank's single vector cannot express; on a KG
    the hub side surfaces aggregator entities, the authority side
    canonical referents). HITS_ITERS synchronous rounds, each
    hub_{t-1} → auth_t → hub_t, mirrored round-for-round by the DuckDB
    oracle's unrolled CTE chain (kg_oracle.kg_hits_sql).

    L1 normalization by the exact DECIMAL total replaces the textbook L2
    norm deliberately: sqrt() is a libm call and not bit-identical across
    engines, while sum-normalization is one correctly-rounded IEEE
    division of two exactly-computed values (the kg_link_prediction
    Jaccard-not-Adamic-Adar reason). Fixpoint direction is unaffected —
    both normalizations are positive scalings of the same linear maps.

    Scale shape: the edge relation is pre-partitioned and persisted ONCE
    (eager — the measured sibling-stage cache race); each half-round is
    one edge-scale join reusing that partitioning + one node-scale
    map-side-combinable DECIMAL sum; the normalization total rides as a
    1-row broadcast (never a driver collect). Per-node sums go through
    DECIMAL(28,14), every round's scores are quantized to the 1e-12 grid
    (the kg_pagerank discipline). Round state (auth and hub) is
    lineage-truncated via plans/iterstate.py."""
    from .kg_oracle import HITS_ITERS

    triples = _kg_build(spark, sf_dir)
    edges = (
        triples.where(F.col("subj") != F.col("obj"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
        .repartition("src")
        .persist()
    )
    nodes = _kg_node_set(triples).persist()
    _KG_CACHES.extend([edges, nodes])
    edges.count()
    nodes.count()

    def qz(col):
        # HALF_UP quantization to the 1e-12 grid — same floor trick both engines
        return F.floor(col * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)

    def normalize(raw, key, out):
        # raw: (key, s DECIMAL(38,14)) — exact; total is an exact DECIMAL
        # sum of those partials, so score = qz(s/total) is one cast pair +
        # one correctly-rounded IEEE division + the grid floor, identical
        # expression tree in the oracle
        tot = raw.agg(F.sum("s").alias("tot"))  # 1 row
        return (
            nodes.crossJoin(F.broadcast(tot))
            .join(raw, nodes.entity == raw[key], "left")
            .select(
                "entity",
                qz(
                    F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                    / F.col("tot").cast("double")
                ).alias(out),
            )
        )

    hub = nodes.select("entity", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(HITS_ITERS):
        araw = (
            edges.join(hub, edges.src == hub.entity)
            .groupBy("dst")
            .agg(F.sum(F.col("hub").cast("decimal(28,14)")).alias("s"))
        )
        auth = truncate_round(normalize(araw, "dst", "auth"))
        hraw = (
            edges.join(auth, edges.dst == auth.entity)
            .groupBy("src")
            .agg(F.sum(F.col("auth").cast("decimal(28,14)")).alias("s"))
        )
        hub = truncate_round(normalize(hraw, "src", "hub"))
    indeg = edges.groupBy("dst").agg(F.count("*").alias("ideg"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    return (
        auth.join(hub, "entity")
        .join(indeg, auth.entity == indeg.dst, "left")
        .join(outdeg, auth.entity == outdeg.src, "left")
        .select(
            "entity",
            F.col("auth").alias("authority"),
            F.col("hub").alias("hub_score"),
            F.coalesce("ideg", F.lit(0)).cast("long").alias("in_degree"),
            F.coalesce("odeg", F.lit(0)).cast("long").alias("out_degree"),
        )
    )


def kg_random_walks(spark, sf_dir):
    """Deterministic random-walk sampling over the KG entity graph — the
    graph family's ninth signal (the DeepWalk/node2vec corpus-generation
    step that turns a graph into training sequences for embedding models;
    Perozzi et al., KDD'14): RW_WALKS walks of RW_STEPS steps from every
    node, emitted long-form as (start_entity, walk_id, step, node).

    "Random" is the repo's seeded-draw idiom (the JL sign-matrix rule,
    plans/lmops.py): the next hop is the neighbor minimizing
    (portable_hash('rw|' || start || walk || step || neighbor), neighbor) —
    pairwise-independent across (walk, step) draws like an RNG, but a pure
    expression, so any engine and any partition layout reproduces the walk
    corpus bit-identically; the oracle (kg_oracle.kg_random_walks_sql)
    unrolls the same transitions as a CTE chain.

    Scale shape: the neighbor relation is pre-partitioned on src and
    persisted ONCE (eager — every round's join probes it); each step is ONE
    edge-scale equi-join (frontier.cur = nbr.src, reusing that
    partitioning) followed by ONE map-side-combinable min(struct(h, dst))
    aggregation per (start, walk) — no window over anything bigger than a
    node's neighbor list, nothing all-pairs, and the frontier stays at
    exactly nodes × RW_WALKS rows every round. Round state is
    lineage-truncated (plans/iterstate.py). Integer/string only. Dead ends
    would end a walk early on BOTH engines (inner join); the undirected
    derivation guarantees min-degree ≥ 1 on the edge-induced domain."""
    from .kg_oracle import RW_STEPS, RW_WALKS
    from .textops import _portable_hash

    triples = _kg_build(spark, sf_dir)
    und = _kg_undirected_edges(triples)
    nbr = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("src")
        .persist()
    )
    _KG_CACHES.append(nbr)
    nbr.count()  # all RW_STEPS round-joins probe it (sibling-stage race)
    state = (
        nbr.select(F.col("src").alias("start"))
        .distinct()
        .select(
            "start",
            F.explode(F.sequence(F.lit(0), F.lit(RW_WALKS - 1))).alias("w"),
        )
        .select("start", F.col("w").cast("int").alias("w"))
        .withColumn("cur", F.col("start"))
    )
    steps = [
        state.select(
            F.col("start").alias("start_entity"),
            F.col("w").alias("walk_id"),
            F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for t in range(1, RW_STEPS + 1):
        h = _portable_hash(
            F.concat(
                F.lit("rw|"),
                F.col("start"),
                F.lit("|"),
                F.col("w").cast("string"),
                F.lit("|"),
                F.lit(str(t)),
                F.lit("|"),
                F.col("dst"),
            )
        )
        state = truncate_round(
            state.join(nbr, state.cur == nbr.src)
            .select("start", "w", "dst", h.alias("h"))
            .groupBy("start", "w")
            .agg(F.min(F.struct("h", "dst")).alias("m"))
            .select("start", "w", F.col("m.dst").alias("cur")),
        )
        steps.append(
            state.select(
                F.col("start").alias("start_entity"),
                F.col("w").alias("walk_id"),
                F.lit(t).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.union(s)
    return out


def kg_modularity(spark, sf_dir):
    """Newman modularity contributions per LPA community — the clustering
    QUALITY evaluation over the graph family's own community detector (the
    eval-op pairing of [dedup_pr_eval]: detect, then price the detection):
    per community c, q_c = in_c/m − (deg_c/(2m))², the standard modularity
    summand over the undirected entity graph. Per-community rows (no
    cross-community float reduction — the only arithmetic is a fixed
    4-op IEEE tree of exactly-computed integers, bit-identical across
    engines: two divisions, one multiply, one subtract).

    Scale shape: communities come from the shared _label_propagation core
    (round state lineage-truncated); the in-community edge count is the
    edge relation joined to the community map on EACH endpoint (two
    node-scale equi-joins, never all-pairs); degrees one combinable agg;
    m rides as a 1-row broadcast. The community map is lineage-truncated
    before its three consumers (both endpoint joins + the membership
    rollup)."""
    from .kg_oracle import LPA_ITERS

    triples = _kg_build(spark, sf_dir)
    und = _kg_undirected_edges(triples)
    nodes = _kg_node_set(triples)
    comm = truncate_round(
        _label_propagation(nodes, und, LPA_ITERS).select(
            "entity", "community"
        ),
    )
    return _modularity_contributions(comm, und)


def _modularity_contributions(comm, und):
    """Modularity core over a community map (entity, community) and an
    undirected (a < b) edge relation — factored out so tests can drive
    crafted partitions directly (LPA collapses the dense synthetic graph
    to ONE community, where q = 1 − 1 = 0 exactly — documented; the
    crafted two-community graph in tests/test_modularity.py pins the
    discrimination)."""
    m_df = und.agg(F.count("*").alias("m"))  # 1 row
    nbr = und.select(F.col("a").alias("v")).union(
        und.select(F.col("b").alias("v"))
    )
    deg = nbr.groupBy("v").agg(F.count("*").alias("deg"))
    ca = comm.select(F.col("entity").alias("a"), F.col("community").alias("ca"))
    cb = comm.select(F.col("entity").alias("b"), F.col("community").alias("cb"))
    inn = (
        und.join(ca, "a")
        .join(cb, "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("in_edges"))
    )
    grp = (
        comm.join(deg, comm.entity == deg.v, "left")
        .groupBy("community")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce("deg", F.lit(0))).alias("deg_sum"),
        )
    )
    half = F.col("deg_sum") / (F.lit(2) * F.col("m"))
    return (
        grp.join(inn, "community", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce("in_edges", F.lit(0)).cast("long").alias("in_edges"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            (
                F.coalesce("in_edges", F.lit(0)) / F.col("m")
                - half * half
            ).alias("q_contrib"),
        )
    )


def _wsp_cost(cnt):
    """Integer inverse-support edge cost (SQL twin: kg_oracle._wsp_cost_sql):
    strongly-supported edges cheap (cost 1 at >= 3 supporting facts), weak
    ones expensive. Pure integer CASE — no float."""
    return (
        F.when(cnt >= 3, F.lit(1))
        .when(cnt == 2, F.lit(2))
        .otherwise(F.lit(3))
    )


def kg_weighted_paths(spark, sf_dir):
    """Weighted shortest paths over the KG entity graph — the graph
    family's tenth signal (weighted reachability: how CHEAPLY an entity is
    reached through well-supported facts, where [kg_bfs_distance] counts
    hops as if every edge were equal): multi-source Bellman-Ford from the
    WSP_SEEDS highest-degree entities, with integer inverse-support edge
    costs computed from the UNDEDUPED fact multiplicity (multiplicity IS
    the weight signal, so the cost agg runs before the distinct step the
    other graph derivations apply).

    Scale shape: the weighted edge relation is pre-partitioned on src and
    persisted ONCE (eager — every relaxation round probes it); each round
    is ONE edge-scale equi-join reusing that partitioning + ONE node-scale
    map-side-combinable min-aggregation (the Pregel relax step as plain
    DataFrame ops); the frontier never exceeds the node set. Fixed
    WSP_ITERS rounds mirrored exactly by the oracle's unrolled CTE chain
    (kg_oracle.kg_weighted_paths_sql) — the dense synthetic graph reaches
    its fixpoint in ~2-3 rounds and the rest are no-op relaxations, the
    kg_bfs_distance posture. Round state is lineage-truncated
    (plans/iterstate.py). Integer-only."""
    from .kg_oracle import WSP_ITERS, WSP_SEEDS

    triples = _kg_build(spark, sf_dir)
    cnt = (
        triples.where(F.col("subj") != F.col("obj"))
        .groupBy(
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    edges = (
        cnt.select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            _wsp_cost(F.col("cnt")).alias("w"),
        )
        .union(
            cnt.select(
                F.col("b").alias("src"),
                F.col("a").alias("dst"),
                _wsp_cost(F.col("cnt")).alias("w"),
            )
        )
        .repartition("src")
        .persist()
    )
    _KG_CACHES.append(edges)
    edges.count()  # every relaxation round probes it (sibling-stage race)
    return _wsp_distance(edges, WSP_ITERS, WSP_SEEDS, _KG_CACHES)


def _wsp_distance(edges, iters: int, n_seeds: int, caches: list):
    """Bellman-Ford relaxation core over a weighted directed edge relation
    (src, dst, w): multi-source distances from the n_seeds highest-degree
    vertices (ties: min id). Factored out so tests can drive crafted
    weighted graphs directly (the synthetic entity graph is dense enough
    that cheap-multi-hop-beats-expensive-direct never arises there)."""
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(n_seeds)
        .select(F.col("src").alias("v"))
    )
    dist = truncate_round(
        seeds.select("v", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(iters):
        relaxed = dist.join(edges, dist.v == edges.src).select(
            edges.dst.alias("v"),
            (dist.dist + edges.w).cast("long").alias("dist"),
        )
        dist = truncate_round(
            relaxed.union(dist.select("v", "dist"))
            .groupBy("v")
            .agg(F.min("dist").alias("dist")),
        )
    return dist.select(
        F.col("v").alias("entity"), F.col("dist").cast("long").alias("dist")
    )


def kg_entities(spark, sf_dir):
    """The entities dimension table (canonical id, label, members, stats)."""
    from ..pipeline.run import build_entities

    return build_entities(spark, _kg_build(spark, sf_dir))


def kg_triangles(spark, sf_dir):
    """Per-entity triangle participation over the KG entity graph — the
    graph family's clustering signal next to [[kg_pagerank]] (importance)
    and connected components (identity). Exact, integer-only.

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


def _coreness(und, iters: int, cache_registry: list | None = None):
    """Core h-index coreness loop over an undirected (a < b) edge relation
    (Lü et al. 2016): c(v) starts at degree; each round c(v) becomes the
    H-index of its neighbors' current values; the unique fixpoint is the
    exact k-core number of every node. Synchronous and deterministic, so
    the DuckDB oracle can unroll it round-for-round. Factored out so tests
    can drive crafted graphs directly.

    Scale shape: the symmetric neighbor relation is pre-partitioned on dst
    and persisted ONCE (eager — the sibling-stage cache race); each round
    is one edge-scale join reusing that partitioning, one neighbor-scale
    window PARTITIONED BY node (per-node sort is degree-bounded, never
    global), and one map-side-combinable max-agg — the same per-round cost
    profile as [kg_pagerank]/[kg_label_propagation]. Round state is
    lineage-truncated (plans/iterstate.py). H-index via the sorted-rank
    trick: with neighbor values x ranked descending by r, H = max(min(x, r)).
    Integer-only. Defined on the edge-induced node set (the undirected
    derivation drops self-loops, so isolated nodes don't appear)."""
    caches = _KG_CACHES if cache_registry is None else cache_registry
    nbr = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("dst")
        .persist()
    )
    caches.append(nbr)
    nbr.count()
    deg = truncate_round(
        nbr.groupBy("src").agg(F.count("*").alias("deg")).select(
            F.col("src").alias("v"), "deg"
        ),
    )
    deg.count()  # deg feeds round 0 AND the final join — sibling consumers
    c = deg.select("v", F.col("deg").alias("c"))
    w = Window.partitionBy("v").orderBy(F.desc("x"))
    for _ in range(iters):
        vals = nbr.join(c, nbr.dst == c.v).select(
            F.col("src").alias("v"), F.col("c").alias("x")
        )
        c = (
            vals.withColumn("r", F.row_number().over(w))
            .groupBy("v")
            .agg(F.max(F.least(F.col("x"), F.col("r"))).alias("c"))
        )
        c = truncate_round(c)
    return deg.join(c, "v").select(
        F.col("v").alias("entity"),
        F.col("deg").cast("long").alias("degree"),
        F.col("c").cast("long").alias("coreness"),
    )


def kg_coreness(spark, sf_dir):
    """Per-entity k-core number over the KG entity graph — the graph
    family's density/robustness signal next to [kg_pagerank] (importance),
    [kg_triangles] (clustering), [kg_label_propagation] (community), and
    connected components (identity). The synthetic entity graph is regular
    enough that every node lands in the same core (coreness 6 — the 11
    intermediate rounds still walk every initial degree 6..39 down through
    the h-operator, which the unrolled oracle checks round-for-round);
    discriminative behavior is pinned on crafted graphs in
    tests/test_kcore.py, same posture as alias_mentions_anchored."""
    from .kg_oracle import KCORE_ITERS

    triples = _kg_build(spark, sf_dir)
    und = truncate_round(_kg_undirected_edges(triples))
    und.count()  # both union legs of nbr consume it concurrently
    return _coreness(und, KCORE_ITERS)


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
    fourth signal next to [kg_pagerank] (importance), [kg_triangles]
    (clustering), and connected components (identity): synchronous,
    deterministic label propagation for LPA_ITERS rounds, mirrored
    round-for-round by the DuckDB oracle's unrolled CTE chain
    (kg_oracle.kg_label_propagation_sql)."""
    from .kg_oracle import LPA_ITERS

    triples = _kg_build(spark, sf_dir)
    return _label_propagation(
        _kg_node_set(triples), _kg_undirected_edges(triples), LPA_ITERS
    )


def _bfs_distance(und, iters: int, n_seeds: int, cache_registry: list | None = None):
    """Core multi-source BFS hop-distance loop over an undirected (a < b)
    edge relation: seeds (the n_seeds highest-degree nodes, ties broken by
    MIN id — a deterministic stand-in for the external seed list a
    production reachability job would take) start at hop 0; each round the
    frontier's unseen neighbors are labeled with the round number. Exact,
    integer/string only, synchronous — the DuckDB oracle unrolls it
    round-for-round. Factored out so tests can drive crafted graphs.

    Scale shape: the symmetric neighbor relation is pre-partitioned on dst
    and persisted ONCE (eager — the sibling-stage cache race); each round
    costs one FRONTIER-scale join reusing that partitioning + a
    frontier-neighborhood distinct + an anti join against the reached set —
    the textbook frontier BFS, never a dense all-nodes relaxation (a
    Bellman-Ford-style full-relation min would re-scan every reached node
    every round). Seed selection is a TakeOrderedAndProject (K-row limit,
    no global window). Round state (reached set AND new frontier — the new
    set feeds two sibling consumers) is lineage-truncated + materialized
    via plans/iterstate.py. Extra rounds past the eccentricity are no-ops
    (empty frontier → empty new set). Unreached nodes are absent from the
    output (edge-induced domain, same posture as _coreness)."""
    caches = _KG_CACHES if cache_registry is None else cache_registry
    nbr = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("dst")
        .persist()
    )
    caches.append(nbr)
    nbr.count()
    deg = nbr.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("v"), "deg"
    )
    seeds = truncate_round(
        deg.orderBy(F.desc("deg"), F.asc("v")).limit(n_seeds).select("v"),
    )
    reached = seeds.select("v", F.lit(0).cast("int").alias("hop"))
    frontier = seeds
    for t in range(1, iters + 1):
        cand = (
            nbr.join(frontier, nbr.dst == frontier.v)
            .select(F.col("src").alias("v"))
            .distinct()
        )
        new = truncate_round(
            cand.join(reached, "v", "left_anti").select(
                "v", F.lit(t).cast("int").alias("hop")
            ),
        )
        reached = truncate_round(reached.unionByName(new))
        frontier = new.select("v")
    return reached.select(
        F.col("v").alias("entity"), F.col("hop").cast("long").alias("hop")
    )


def kg_bfs_distance(spark, sf_dir):
    """Multi-source BFS hop distance over the KG entity graph — the graph
    family's sixth signal (reachability/distance) next to [kg_pagerank]
    (importance), [kg_triangles] (clustering), connected components
    (identity), [kg_label_propagation] (community), and [kg_coreness]
    (density). The dense synthetic graph collapses to hops {0, 1} from the
    top-degree seeds (the unrolled oracle still checks all BFS_ITERS
    rounds' no-op fixpoint); discriminative multi-hop behavior is pinned on
    crafted graphs in tests/test_bfs.py, same posture as kg_coreness."""
    from .kg_oracle import BFS_ITERS, BFS_SEEDS

    triples = _kg_build(spark, sf_dir)
    und = truncate_round(_kg_undirected_edges(triples))
    return _bfs_distance(und, BFS_ITERS, BFS_SEEDS)


def kg_connected_components(spark, sf_dir):
    """Connected components over the KG entity graph — the graph family's
    IDENTITY signal, the one the sibling docstrings name next to
    [kg_pagerank] (importance), [kg_triangles] (clustering),
    [kg_label_propagation] (community), [kg_coreness] (density),
    [kg_bfs_distance] (reachability), and [kg_link_prediction] (completion).
    It exposes the pipeline's canonicalization core itself
    (canonicalize.connected_components_long — alternating large-star/
    small-star, Kiveris et al. 2014, O(log d) rounds, run to a set-equality
    fixpoint with per-round lineage cuts) on the data-derived entity graph,
    under the same min-numeric-QID representative rule entity
    canonicalization applies (working ids via canonicalize._qnum's
    '(\\d+)' extraction). Output mirrors [dedup_lsh_clusters]'s cluster
    shape: (entity, component_rep, component_size, is_rep) over the
    edge-induced node domain (kg_coreness posture).

    Scale shape: every star round is one self-join + one min-aggregation on
    the ENTITY-graph edge set, never the fact table; the size rollup is
    component-count-sized and broadcast back. The oracle is the recursive
    min-label-propagation CTE (kg_oracle.kg_connected_components_sql) — no
    round-count coupling on the ORACLE side, and require_converged=True on
    the Spark side turns an exhausted iteration budget into a ValueError
    instead of a silently fragmented star forest, so the engines either
    agree or fail loudly at any component diameter. Reference parity: ProVe
    canonicalizes entities to a single representative id before
    materializing triples (north-star 'connected-components
    canonicalization'); crafted-graph behavior of the CC core is pinned in
    tests/test_canonicalize.py."""
    from ..pipeline.canonicalize import _qnum, connected_components_long

    triples = _kg_build(spark, sf_dir)
    und = truncate_round(_kg_undirected_edges(triples))
    comp = connected_components_long(
        und.select(_qnum("a").alias("u"), _qnum("b").alias("v")),
        require_converged=True,
    )
    sizes = comp.groupBy("root").agg(F.count("*").alias("component_size"))
    return comp.join(F.broadcast(sizes), "root").select(
        F.concat(F.lit("Q"), F.col("u").cast("string")).alias("entity"),
        F.concat(F.lit("Q"), F.col("root").cast("string")).alias(
            "component_rep"
        ),
        F.col("component_size").cast("long").alias("component_size"),
        (F.col("u") == F.col("root")).alias("is_rep"),
    )


def _link_prediction(und, hub_cap: int, min_cn: int, cache_registry: list | None = None):
    """Core common-neighbor link prediction over an undirected (a < b) edge
    relation: for every NON-adjacent pair with >= min_cn common neighbors
    (counted through wedge centers of degree <= hub_cap), emit the count and
    the neighbor-set Jaccard cn/(deg_a + deg_b - cn). Factored out so tests
    can drive crafted graphs directly.

    Scale shape: wedge enumeration is ONE self-join of the hub-capped
    neighbor relation on its center key — fan-out per center is capped-deg²,
    so a degree-d hub's d² pair blow-up never materializes (capped CN is a
    documented lower bound through hot entities; degrees stay TRUE degrees).
    The pair count is a combinable agg on (a, b); adjacency removal is one
    LEFT ANTI join against the edge set (edge-scale build side); the two
    degree joins are node-scale. Exactness: integers throughout except the
    single final IEEE division, which is correctly rounded per IEEE 754 in
    both engines (the reason the score is Jaccard and not Adamic-Adar:
    1/ln(deg) sums are NOT bit-portable across libms)."""
    caches = _KG_CACHES if cache_registry is None else cache_registry
    und = und.persist()
    caches.append(und)
    und.count()  # nbr's two union legs + the anti join consume it concurrently
    nbr = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = truncate_round(
        nbr.groupBy("src").agg(F.count("*").alias("deg")).select(
            F.col("src").alias("v"), "deg"
        ),
    )
    deg.count()  # feeds the center filter AND both final degree joins
    centers = nbr.join(
        deg.select(F.col("v").alias("src"), "deg"), "src"
    ).where(F.col("deg") <= hub_cap)
    o1 = centers.select("src", F.col("dst").alias("a"))
    o2 = centers.select("src", F.col("dst").alias("b"))
    cn = (
        o1.join(o2, "src")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
        .where(F.col("cn") >= min_cn)
    )
    new = cn.join(und, ["a", "b"], "left_anti")
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    return (
        new.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("entity_a"),
            F.col("b").alias("entity_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("da").cast("long").alias("degree_a"),
            F.col("db").cast("long").alias("degree_b"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn"))
            ).alias("jaccard"),
        )
    )


def kg_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction over the KG entity graph — the graph
    family's seventh signal (missing-edge inference) next to [kg_pagerank]
    (importance), [kg_triangles] (clustering), connected components
    (identity), [kg_label_propagation] (community), [kg_coreness] (density),
    and [kg_bfs_distance] (reachability): which entity pairs are NOT yet
    linked by a verified triple but share many verified neighbors — the
    candidate-generation step for KG completion. Hub-cap behavior is pinned
    on crafted graphs in tests/test_linkpred.py (the cap does not bind on
    the synthetic graph — documented), same posture as kg_coreness."""
    from .kg_oracle import LINKPRED_HUB_CAP, LINKPRED_MIN_CN

    triples = _kg_build(spark, sf_dir)
    und = truncate_round(_kg_undirected_edges(triples))
    return _link_prediction(und, LINKPRED_HUB_CAP, LINKPRED_MIN_CN)


def kg_assortativity(spark, sf_dir):
    """Degree assortativity of the KG entity graph (Newman 2002) — the
    graph family's MIXING-PATTERN signal: do well-connected entities link
    to other hubs (assortative, r > 0) or to leaves (disassortative,
    r < 0)? Real KGs are strongly disassortative (hub entities link to
    long-tail ones) and the coefficient is the one-number summary a graph
    pipeline tracks across builds. Pearson correlation of endpoint degrees
    over the symmetrized edge list; because both orders of every edge are
    included, the x/y marginals coincide and r collapses to
    (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²) — the sqrt() in Pearson's denominator
    drops out entirely (no libm call to diverge cross-engine, the
    kg_link_prediction Jaccard-not-Adamic-Adar rule).

    Scale shape: degrees are one combinable count; the sufficient
    statistics are ONE pass over the edge relation with two node-scale
    degree joins (the [user_value_trend] sufficient-statistics discipline
    — nothing iterates, nothing is all-pairs); the output is a single row.
    BIGINT throughout (degree sums fit comfortably at any graph where the
    edge list itself is storable — Σx ≤ 2m·d_max; promote to DECIMAL(38,0)
    partials if d_max·m approaches 2^63) with one final IEEE division;
    a perfectly regular graph zeroes the denominator → NULL, both engines."""
    triples = _kg_build(spark, sf_dir)
    und = truncate_round(_kg_undirected_edges(triples))
    und.count()  # nbr's union legs + the edge-count agg consume it concurrently
    nbr = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = truncate_round(
        nbr.groupBy("src").agg(F.count("*").alias("deg")).select(
            F.col("src").alias("v"), "deg"
        ),
    )
    deg.count()  # feeds both endpoint joins + the node-count agg
    dx = deg.select(F.col("v").alias("src"), F.col("deg").alias("x"))
    dy = deg.select(F.col("v").alias("dst"), F.col("deg").alias("y"))
    s = (
        nbr.join(dx, "src")
        .join(dy, "dst")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    )
    m_df = und.agg(F.count("*").cast("long").alias("n_edges"))
    nn_df = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.crossJoin(F.broadcast(m_df))
        .crossJoin(F.broadcast(nn_df))
        .select(
            "n_edges",
            "n_nodes",
            F.col("n").alias("n_pairs"),
            F.when(
                den != 0,
                (
                    F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")
                ).cast("double")
                / den.cast("double"),
            ).alias("assortativity"),
        )
    )


def kg_calibration(spark, sf_dir):
    """Reliability-diagram calibration table for the NLI verdict scorer —
    the model-monitoring op a verify-and-materialize pipeline runs on every
    build (is a claim scored 0.8 'supports' actually supported ~80% of the
    time?): predicted support probability (w_supports) binned into
    CALIBRATION_BINS fixed-width bins over [0, 1], per bin the claim count,
    the empirical supports rate, the mean predicted probability, and the
    |gap| between them (the per-bin ECE term, unweighted).

    Scale shape: a pure map-side bin projection riding the triples relation
    followed by ONE combinable groupBy on the bin key (≤ CALIBRATION_BINS
    groups). Cross-engine exactness: the bin edge is an explicit FLOOR
    formula, NOT width_bucket (engine-specific FP); mean_pred sums the
    double probabilities through DECIMAL(28,14) partials (order-independent
    — the kg_pagerank discipline); support_rate/gap are fixed IEEE trees
    over exactly-computed inputs."""
    from ..config import DEFAULT_CONFIG
    from .kg_oracle import CALIBRATION_BINS

    support = list(DEFAULT_CONFIG.classes)[0]
    t = _kg_build(spark, sf_dir)
    binned = t.select(
        "verdict",
        "w_supports",
        F.least(
            F.floor(F.col("w_supports") * float(CALIBRATION_BINS)) + 1,
            F.lit(CALIBRATION_BINS),
        )
        .cast("int")
        .alias("bin"),
    )
    g = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_claims"),
        F.count(F.when(F.col("verdict") == support, True))
        .cast("long")
        .alias("n_supported"),
        F.sum(F.col("w_supports").cast("decimal(28,14)")).alias("psum"),
    )
    rate = F.col("n_supported").cast("double") / F.col("n_claims")
    pred = F.col("psum").cast("double") / F.col("n_claims")
    return g.select(
        "bin",
        "n_claims",
        "n_supported",
        rate.alias("support_rate"),
        pred.alias("mean_pred"),
        F.abs(rate - pred).alias("calibration_gap"),
    )


def transcript_turn_stats(spark, sf_dir):
    """Per-role descriptive rollup over the north-rule input table ITSELF
    (conv_id, turn_idx, role, text, tool, ts — BASELINE.json input_hint):
    turn counts, conversation coverage, character volume, tool-call rates,
    and the time span, per role. The ingest-side data-profile a transcript
    pipeline runs before KG construction (the kg lane consumes this same
    relation; this query pins the relation's own statistics cross-engine,
    including the role/tool/ts columns the triples path doesn't touch).

    Scale shape: ONE scan → one map-side-combinable groupBy on a 3-value
    key; the two distinct aggs (convs, tools) expand to the standard
    two-pass partial-distinct plan. avg_chars is the single final IEEE
    division (correctly rounded in both engines)."""
    from ..datagen import transcripts_df

    tr = transcripts_df(spark, sf_dir)
    agg = tr.groupBy("role").agg(
        F.count("*").alias("n_turns"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.count(F.when(F.col("tool") != "", True)).alias("n_tool_calls"),
        F.countDistinct(
            F.when(F.col("tool") != "", F.col("tool"))
        ).alias("n_distinct_tools"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    return agg.select(
        "role",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_convs").cast("long").alias("n_convs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        (F.col("total_chars").cast("double") / F.col("n_turns")).alias(
            "avg_chars"
        ),
        F.col("n_tool_calls").cast("long").alias("n_tool_calls"),
        F.col("n_distinct_tools").cast("long").alias("n_distinct_tools"),
        "first_ts",
        "last_ts",
    )


def kg_temporal_facts(spark, sf_dir):
    """Temporal scoping of verified facts — the Wikidata-qualifier-style
    time dimension over the constructed KG: every triple carries its
    (conv_id, turn_idx) provenance, so joining back to the transcripts
    relation recovers WHEN each fact was observed; rolled up per distinct
    (subj, pred, obj) as mention count, conversation coverage, support
    count, first/last observation and exact span in epoch seconds.

    Scale shape: the provenance join keys on (conv_id, turn_idx) — the
    transcripts side projects 3 columns (predicate pushdown keeps the text
    column out of the exchange) and the rollup is one map-side-combinable
    groupBy (+ the standard partial-distinct expansion for n_convs);
    integers/timestamps only — span via exact BIGINT epoch subtraction
    (no day-truncation semantics to diverge cross-engine)."""
    from ..config import DEFAULT_CONFIG
    from ..datagen import transcripts_df

    support = list(DEFAULT_CONFIG.classes)[0]
    triples = _kg_build(spark, sf_dir)
    turns = transcripts_df(spark, sf_dir).select("conv_id", "turn_idx", "ts")
    joined = triples.select(
        "subj", "pred", "obj", "conv_id", "turn_idx", "verdict"
    ).join(turns, ["conv_id", "turn_idx"])
    return joined.groupBy("subj", "pred", "obj").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.count(F.when(F.col("verdict") == support, True))
        .cast("long")
        .alias("n_supports"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        )
        .cast("long")
        .alias("span_seconds"),
    )


def nli_training_export(spark, sf_dir):
    """Training-pair export from the constructed KG — the dataset the
    reference's NLI fine-tune consumes (finetune.py trains on
    (evidence sentence, claim, label) rows; ProVe utils/finetune:
    declared non-goal for TRAINING, but the data EXPORT is a pipeline op):
    premise = the selected evidence sentence each triple carries, the
    structured hypothesis fields (subj, pred, obj), label = the verdict,
    plus a DETERMINISTIC 80/10/10 train/val/test split by portable md5
    hash of claim_id — bit-reproducible on any cluster size / retry /
    engine (rand()/randomSplit are partition-layout dependent; a training
    snapshot must not be).

    Scale shape: a pure map-side projection over the triples relation —
    zero additional exchanges beyond the pipeline's own."""
    from .textops import _portable_hash

    t = _kg_build(spark, sf_dir)
    h10 = F.pmod(
        _portable_hash(F.concat(F.lit("split|"), F.col("claim_id"))),
        F.lit(10),
    )
    return t.select(
        "claim_id",
        "conv_id",
        F.col("result_sentence").alias("premise"),
        "subj",
        "pred",
        "obj",
        F.col("verdict").alias("label"),
        F.when(h10 < 8, F.lit("train"))
        .when(h10 == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def conv_tool_chain(spark, sf_dir):
    """Per-conversation ORDERED tool-invocation sequence over the
    north-rule input table: the '>'-joined chain of tools in turn order
    plus call counts — the agent-behavior signature a transcript pipeline
    mines (which tool pipelines do agents actually run?). Exercises the
    order-SENSITIVE aggregation contract: `collect_list` is not
    order-stable under retries/partitioning, so determinism comes from
    sorting by an embedded key — array_sort over (turn_idx, tool) structs,
    then project the tool — mirrored by SQL-native
    `string_agg(... ORDER BY turn_idx)` in the oracle.

    Scale shape: ONE combinable groupBy on conv_id; per-group state is the
    conversation's own tool turns (conversation-bounded, never
    corpus-bounded); the struct sort is per-group and tiny."""
    from ..datagen import transcripts_df

    tr = (
        transcripts_df(spark, sf_dir)
        .where(F.col("tool") != "")
        .select("conv_id", "turn_idx", "tool")
    )
    return tr.groupBy("conv_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "tool"))),
                lambda st: st["tool"],
            ),
        ).alias("tool_chain"),
        F.count("*").cast("long").alias("n_tool_calls"),
        F.countDistinct("tool").cast("long").alias("n_distinct_tools"),
    )


def sft_pairs(spark, sf_dir):
    """SFT training-pair extraction from the north-rule input table: every
    (user turn → immediately following assistant turn) adjacency becomes a
    (prompt, response) row — the instruction-tuning twin of
    [nli_training_export] (that one exports the VERIFIED-triple feed; this
    one exports the raw conversational feed every chat fine-tune consumes),
    with the same deterministic portable-hash 80/10/10 split (rand()/
    randomSplit are partition-layout dependent; a training snapshot must
    not be). The nidx == turn_idx + 1 adjacency guard makes the contract
    correct on gappy turn sequences (tool turns, redacted spans), not just
    the dense synthetic ones.

    Scale shape: ONE window over (conv_id, turn_idx) — per-conversation
    state, never corpus-bounded — then a map-only filter + projection;
    the hash split is a pure projection riding the same stage."""
    from ..datagen import transcripts_df
    from .textops import _portable_hash

    tr = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    led = tr.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.lead("role").over(w).alias("nrole"),
        F.lead("text").over(w).alias("ntext"),
        F.lead("turn_idx").over(w).alias("nidx"),
    )
    h10 = F.pmod(
        _portable_hash(
            F.concat(
                F.lit("sft|"),
                F.col("conv_id"),
                F.lit("|"),
                F.col("turn_idx").cast("string"),
            )
        ),
        F.lit(10),
    )
    return led.where(
        (F.col("role") == "user")
        & (F.col("nrole") == "assistant")
        & (F.col("nidx") == F.col("turn_idx") + 1)
    ).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("prompt_turn_idx"),
        F.col("text").alias("prompt"),
        F.col("ntext").alias("response"),
        F.when(h10 < 8, F.lit("train"))
        .when(h10 == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def dpo_pairs(spark, sf_dir):
    """DPO preference-pair export with deterministic in-batch negative
    sampling — the preference-optimization twin of [sft_pairs] (whose
    relation is reused VERBATIM as the source, so the pair derivation is
    single-sourced): each (prompt, chosen) pair gets a `rejected` response
    sampled from the rest of the corpus the way contrastive/DPO trainers
    sample in-batch negatives — pairs are hash-bucketed into batches of
    ~DPO_BATCH and each pair's rejected is the NEXT pair's chosen response
    in the hash-shuffled bucket ring (cyclic lead → first_value). The
    sampling is the portable-hash seeded-draw idiom: no RNG state, so the
    export is bit-identical across engines and partition layouts. Rows
    whose sampled negative equals the chosen response (singleton buckets,
    duplicate responses) are dropped on both sides.

    Scale shape: batch count = ceil(n_pairs / DPO_BATCH) rides as a 1-row
    broadcast (integer `div` arithmetic — never a double division); the
    ring windows are PARTITIONED by bucket (~DPO_BATCH rows each — batch
    count grows with the corpus, bucket size stays constant, so no window
    ever orders more than a batch); everything else is map-only
    projection."""
    from .kg_oracle import DPO_BATCH
    from .textops import _portable_hash

    base = sft_pairs(spark, sf_dir)
    h = _portable_hash(
        F.concat(
            F.lit("dpo|"),
            F.col("conv_id"),
            F.lit("|"),
            F.col("prompt_turn_idx").cast("string"),
        )
    )
    n = base.agg(F.count("*").alias("n_pairs"))  # 1 row
    b = base.crossJoin(F.broadcast(n)).select(
        "conv_id",
        "prompt_turn_idx",
        "prompt",
        F.col("response").alias("chosen"),
        "split",
        h.alias("h"),
        F.pmod(
            h,
            F.greatest(
                F.expr(f"(n_pairs + {DPO_BATCH - 1}) div {DPO_BATCH}"),
                F.lit(1).cast("long"),
            ),
        ).alias("bucket"),
    )
    wb = Window.partitionBy("bucket").orderBy(
        "h", "conv_id", "prompt_turn_idx"
    )
    wfull = wb.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = b.select(
        "conv_id",
        "prompt_turn_idx",
        "prompt",
        "chosen",
        "split",
        F.coalesce(
            F.lead("chosen").over(wb), F.first("chosen").over(wfull)
        ).alias("rejected"),
    )
    return out.where(F.col("rejected") != F.col("chosen"))


def tool_cooccurrence(spark, sf_dir):
    """Order-free tool co-occurrence over the north-rule input table — the
    association view of agent behavior next to [tool_transitions]' ordered
    Markov view (WHICH tools appear in the same conversation, regardless of
    sequence — the capability-bundle signal; the [basket_pairs] shape with
    conversations as baskets and tools as items): same-conversation tool
    pairs with support, confidence, and lift, pruned below
    TOOL_COOCCUR_MIN_SUPP.

    Scale shape: the pair enumeration is ONE self-equi-join on conv_id over
    the distinct (conv, tool) relation — fan-out per conversation is
    (distinct tools)², bounded by the tool dictionary, never corpus²; tool
    supports are a tool-dimension broadcast; the conversation total rides
    as a 1-row broadcast. Integer counts, two exact-integer divisions."""
    from ..datagen import transcripts_df
    from .kg_oracle import TOOL_COOCCUR_MIN_SUPP

    items = (
        transcripts_df(spark, sf_dir)
        .where(F.col("tool") != "")
        .select("conv_id", "tool")
        .distinct()
    )
    n_df = items.select("conv_id").distinct().agg(
        F.count("*").alias("n_convs")
    )
    supp = items.groupBy(F.col("tool").alias("t")).agg(
        F.count("*").alias("s")
    )
    a = items.select(F.col("conv_id").alias("k"), F.col("tool").alias("ta"))
    b = items.select(F.col("conv_id").alias("k"), F.col("tool").alias("tb"))
    pairs = (
        a.join(b, "k")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("supp_ab"))
        .where(F.col("supp_ab") >= TOOL_COOCCUR_MIN_SUPP)
    )
    sa = supp.select(F.col("t").alias("ta"), F.col("s").alias("supp_a"))
    sb = supp.select(F.col("t").alias("tb"), F.col("s").alias("supp_b"))
    return (
        pairs.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col("ta").alias("tool_a"),
            F.col("tb").alias("tool_b"),
            F.col("supp_ab").cast("long").alias("supp_ab"),
            F.col("supp_a").cast("long").alias("supp_a"),
            F.col("supp_b").cast("long").alias("supp_b"),
            (
                F.col("supp_ab").cast("double")
                / F.col("supp_a").cast("double")
            ).alias("confidence"),
            (
                (F.col("supp_ab") * F.col("n_convs")).cast("double")
                / (F.col("supp_a") * F.col("supp_b")).cast("double")
            ).alias("lift"),
        )
    )


def tool_transitions(spark, sf_dir):
    """First-order Markov transition matrix over tool invocations — the
    agent-behavior analytics the north-rule input table exists to answer
    (which tool follows which?): per conversation, consecutive TOOL-BEARING
    turns form (tool → next_tool) transitions; the output is the count and
    the row-stochastic probability per source tool. The estimation twin of
    [conv_tool_chain] (that one exports the ordered sequence; this one fits
    the chain model on it).

    Scale shape: ONE conv-partitioned window (lead over turn order on the
    tool-filtered rows — per-conversation state, never corpus-bounded), a
    combinable (tool, next_tool) count, and a broadcast-sized per-tool
    total join (the tool vocabulary is a dimension). prob = one IEEE
    division of exact counts."""
    from ..datagen import transcripts_df

    tr = transcripts_df(spark, sf_dir).select("conv_id", "turn_idx", "tool")
    return _transition_matrix(tr)


def _transition_matrix(tr):
    """Markov transition-estimation core over (conv_id, turn_idx, tool) —
    factored out so tests can drive crafted sequences directly (the
    synthetic corpus's tool pattern is CYCLIC, so its matrix degenerates
    to single-destination rows; tests/test_transitions.py pins the
    multi-destination probabilities)."""
    tb = tr.where(F.col("tool") != "")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = tb.select(
        "tool", F.lead("tool").over(w).alias("next_tool")
    ).where(F.col("next_tool").isNotNull())
    cnt = pairs.groupBy("tool", "next_tool").agg(
        F.count("*").alias("n_transitions")
    )
    tot = cnt.groupBy("tool").agg(
        F.sum("n_transitions").alias("n_total")
    )
    return cnt.join(F.broadcast(tot), "tool").select(
        "tool",
        "next_tool",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        (
            F.col("n_transitions").cast("double") / F.col("n_total")
        ).alias("prob"),
    )


def context_tail(spark, sf_dir):
    """Token-budget context-window truncation over the north-rule input
    table: per conversation, keep the longest turn SUFFIX whose whitespace
    token total stays <= CONTEXT_BUDGET — the newest-first truncation every
    chat LM serving/training stack applies before tokenization (the
    per-conversation inverse of [pack_sequences], which fuses documents UP
    to a budget; this trims one conversation DOWN to it). A turn is kept
    iff its suffix-cumulative token count fits; the whole-suffix contract
    means a single over-budget final turn yields an empty context for that
    conversation (policy documented, mirrored exactly by the oracle).

    Scale shape: ONE window over (conv_id, turn_idx DESC) with a running
    ROWS frame — per-conversation state — then a map-only filter; token
    counting is split() bound in its own projection (the O(words²)
    re-split trap documented at [bigram_lm_score]). Integers/strings only."""
    from ..datagen import transcripts_df
    from .kg_oracle import CONTEXT_BUDGET

    tr = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", F.split("text", " ").alias("ws")
    )
    tok = tr.select(
        "conv_id", "turn_idx", "role", F.size("ws").alias("n_tokens")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suf = tok.withColumn("suffix_tokens", F.sum("n_tokens").over(w))
    return suf.where(F.col("suffix_tokens") <= CONTEXT_BUDGET).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("suffix_tokens").cast("long").alias("suffix_tokens"),
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

# KG-family queries held out of the sweep cap (the registry is full at 50;
# these get the identical oracle gate in the pytest unregistered lane)
def _kg_extra_sqls() -> dict[str, str]:
    from .kg_oracle import (
        kg_bfs_distance_sql,
        kg_connected_components_sql,
        kg_coreness_sql,
        kg_hits_sql,
        kg_link_prediction_sql,
        kg_random_walks_sql,
        kg_weighted_paths_sql,
        kg_modularity_sql,
        kg_assortativity_sql,
        kg_calibration_sql,
        context_tail_sql,
        dpo_pairs_sql,
        tool_cooccurrence_sql,
        tool_transitions_sql,
        conv_tool_chain_sql,
        kg_temporal_facts_sql,
        nli_training_export_sql,
        sft_pairs_sql,
        transcript_turn_stats_sql,
    )

    return {
        "kg_coreness": kg_coreness_sql(),
        "kg_bfs_distance": kg_bfs_distance_sql(),
        "kg_connected_components": kg_connected_components_sql(),
        "kg_link_prediction": kg_link_prediction_sql(),
        "kg_random_walks": kg_random_walks_sql(),
        "kg_weighted_paths": kg_weighted_paths_sql(),
        "kg_modularity": kg_modularity_sql(),
        "kg_hits": kg_hits_sql(),
        "kg_assortativity": kg_assortativity_sql(),
        "kg_calibration": kg_calibration_sql(),
        "kg_temporal_facts": kg_temporal_facts_sql(),
        "nli_training_export": nli_training_export_sql(),
        "transcript_turn_stats": transcript_turn_stats_sql(),
        "conv_tool_chain": conv_tool_chain_sql(),
        "sft_pairs": sft_pairs_sql(),
        "dpo_pairs": dpo_pairs_sql(),
        "tool_transitions": tool_transitions_sql(),
        "tool_cooccurrence": tool_cooccurrence_sql(),
        "context_tail": context_tail_sql(),
    }


_KG_EXTRA_SQLS = _kg_extra_sqls()

KG_EXTRA_QUERIES: dict[str, tuple] = {
    "kg_coreness": (kg_coreness, _KG_EXTRA_SQLS["kg_coreness"]),
    "kg_bfs_distance": (kg_bfs_distance, _KG_EXTRA_SQLS["kg_bfs_distance"]),
    "kg_connected_components": (
        kg_connected_components,
        _KG_EXTRA_SQLS["kg_connected_components"],
    ),
    "kg_link_prediction": (
        kg_link_prediction,
        _KG_EXTRA_SQLS["kg_link_prediction"],
    ),
    "kg_hits": (kg_hits, _KG_EXTRA_SQLS["kg_hits"]),
    "kg_random_walks": (kg_random_walks, _KG_EXTRA_SQLS["kg_random_walks"]),
    "kg_weighted_paths": (
        kg_weighted_paths,
        _KG_EXTRA_SQLS["kg_weighted_paths"],
    ),
    "kg_modularity": (kg_modularity, _KG_EXTRA_SQLS["kg_modularity"]),
    "kg_assortativity": (
        kg_assortativity,
        _KG_EXTRA_SQLS["kg_assortativity"],
    ),
    "kg_calibration": (kg_calibration, _KG_EXTRA_SQLS["kg_calibration"]),
    "transcript_turn_stats": (
        transcript_turn_stats,
        _KG_EXTRA_SQLS["transcript_turn_stats"],
    ),
    "kg_temporal_facts": (
        kg_temporal_facts,
        _KG_EXTRA_SQLS["kg_temporal_facts"],
    ),
    "nli_training_export": (
        nli_training_export,
        _KG_EXTRA_SQLS["nli_training_export"],
    ),
    "conv_tool_chain": (
        conv_tool_chain,
        _KG_EXTRA_SQLS["conv_tool_chain"],
    ),
    "sft_pairs": (sft_pairs, _KG_EXTRA_SQLS["sft_pairs"]),
    "dpo_pairs": (dpo_pairs, _KG_EXTRA_SQLS["dpo_pairs"]),
    "tool_transitions": (
        tool_transitions,
        _KG_EXTRA_SQLS["tool_transitions"],
    ),
    "tool_cooccurrence": (
        tool_cooccurrence,
        _KG_EXTRA_SQLS["tool_cooccurrence"],
    ),
    "context_tail": (context_tail, _KG_EXTRA_SQLS["context_tail"]),
}

# Intentionally unregistered to stay under the driver's 50-row sweep cap
# (still importable + unit-tested; exposed via __spark_entry__.unregistered()
# so sweep reports can show the exclusions):
#   salted_pivot_counts — the exact machinery kg_entity_rollup's oracled row
#     covers (salted_event_counts keeps the salted-agg CORR row)
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
    "salted_pivot_counts",
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
    # variant_extract_props — Spark 4 VARIANT semi-structured path (parse
    # once, typed binary path extraction); json_extract_props keeps the
    # F9 CORR row
    "variant_extract_props",
    # profile_events — single-pass DESCRIBE-style column profiling (typed
    # min/max lanes to keep cross-engine hash parity off double rendering)
    "profile_events",
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
    # jl_project_embeddings / bigram_lm_score — representation compression
    # (sparse JL projection) and corpus-trained LM quality scoring; the
    # embedding and quality families already hold CORR rows
    # (kmeans_centroids, ann_ivf_topk, quality_scores)
    "jl_project_embeddings",
    "bigram_lm_score",
    # curriculum_bins — per-source quartile binning of the LM score (the
    # quality-curriculum schedule input); composes bigram_lm_score, whose
    # arithmetic the LM rows pin
    "curriculum_bins",
    # chunk_documents — sliding-window passage chunking (W=64/S=48 with
    # overlap), the RAG/context-budget inverse of pack_sequences (which
    # holds the family's CORR row); map-only explode, integers/strings only
    "chunk_documents",
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
    # kg_coreness — per-entity k-core number via the h-index iteration (the
    # graph family's fifth signal; registry is full at 50, and the four
    # registered kg graph rows already pin the iterative-join machinery);
    # uniform coreness on the regular synthetic graph is documented —
    # crafted-graph discrimination pinned in tests/test_kcore.py
    "kg_coreness",
    # kg_bfs_distance — multi-source BFS hop distance (the graph family's
    # sixth signal, reachability; same registry-full rationale as
    # kg_coreness); the dense synthetic graph collapses to hops {0, 1} —
    # documented — with multi-hop discrimination pinned on crafted graphs
    # in tests/test_bfs.py
    "kg_bfs_distance",
    # kg_connected_components — the graph family's identity signal: the
    # pipeline's canonicalization CC core (alternating large-star/small-star
    # run to fixpoint) exposed over the data-derived entity graph under the
    # same min-numeric-QID representative rule; oracle is the recursive
    # min-label CTE (no round-count coupling), crafted-graph behavior pinned
    # in tests/test_canonicalize.py; same registry-full rationale as
    # kg_coreness (dedup_lsh_clusters holds the CC machinery's CORR row)
    "kg_connected_components",
    # kg_link_prediction — common-neighbor/Jaccard missing-edge inference
    # (the graph family's seventh signal, KG completion candidates; same
    # registry-full rationale); hub-cap behavior pinned on crafted graphs
    # in tests/test_linkpred.py
    "kg_link_prediction",
    # conv_tool_chain — per-conversation ORDERED tool sequence (the one
    # order-sensitive aggregation; determinism via embedded-key sort,
    # string_agg ORDER BY twin)
    "conv_tool_chain",
    # retention_cohorts — first-seen-week cohort retention triangle
    # (exact integer week arithmetic; the min-agg/join/distinct shapes
    # are CORR-pinned elsewhere)
    "retention_cohorts",
    # unpivot_quality_metrics — the native wide→long melt surface
    # (DataFrame.unpivot / SQL UNPIVOT); map-only, pivot's CORR row covers
    # the inverse reshape
    "unpivot_quality_metrics",
    # nli_training_export — deterministic-split training-pair projection of
    # the verified triples (the fine-tune feed; map-only over the kg lane
    # whose CORR rows pin everything upstream)
    "nli_training_export",
    # cumulative_unique_users — running-distinct growth curve via the
    # first-occurrence-attribution + prefix-sum identity (the combinable
    # re-expression of an uncombinable COUNT(DISTINCT) OVER)
    "cumulative_unique_users",
    # kg_temporal_facts — Wikidata-qualifier-style temporal scoping of the
    # verified facts via the triples' (conv_id, turn_idx) provenance join
    # back to the transcripts' ts column
    "kg_temporal_facts",
    # funnel_steps — strictly-ordered sequential-pattern funnel (the one
    # ordering-sensitive aggregation shape the set-shaped CORR rows cannot
    # express); same-key join/agg chain, one partitioning reused
    "funnel_steps",
    # transcript_turn_stats — per-role profile of the north-rule input
    # table itself (pins the role/tool/ts columns the triples path does
    # not touch); the plain-groupBy shape is CORR-pinned elsewhere
    "transcript_turn_stats",
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
    # bpe_merges — BPE tokenizer-training merge rounds (Sennrich 2016,
    # word-level): one corpus-scale counting pass, then Zipf-bounded
    # vocab-relation rounds with 1-row-broadcast argmax picks; joins the
    # LM-ops pytest lane (bigram_lm_score / pack_sequences hold the
    # family's CORR rows)
    "bpe_merges",
    # bpe_encode_tokens — the train→apply composition for the tokenizer:
    # replay the shared _bpe_chain to its final vocabulary and ENCODE the
    # corpus (per-doc word/BPE-token counts); joins bpe_merges in the
    # LM-ops pytest lane
    "bpe_encode_tokens",
    # quantize_embeddings — int8 scalar vector quantization (FAISS-SQ8
    # shape) with per-element reconstruction error; joins the embedding
    # family's pytest lane (kmeans_centroids / ann_ivf_topk hold the CORR
    # rows); map-only, fixed-IEEE-tree exact (no DECIMAL detour needed)
    "quantize_embeddings",
    # pq_codes — product quantization (two per-subspace TRAINED codebooks
    # via the shared Lloyd chain; codes + exact reconstruction error); the
    # embedding family's CORR rows are kmeans_centroids / ann_ivf_topk
    "pq_codes",
    # kg_random_walks — deterministic DeepWalk-style walk sampling (the
    # graph family's ninth signal: the graph→training-sequence corpus
    # generator; same registry-full rationale as kg_coreness); "random"
    # draws via the portable-hash seeded-draw idiom so the walk corpus is
    # bit-identical across engines and partition layouts
    "kg_random_walks",
    # kg_modularity — Newman modularity contributions per LPA community
    # (the clustering-quality eval of the family's own detector; the
    # dedup_pr_eval pairing); fixed 4-op IEEE tree over exact integers
    "kg_modularity",
    # kg_weighted_paths — multi-source Bellman-Ford weighted shortest
    # paths with integer inverse-support edge costs (the graph family's
    # tenth signal: weighted reachability vs BFS's hop count; same
    # registry-full rationale as kg_coreness)
    "kg_weighted_paths",
    # kg_hits — HITS hubs/authorities (the graph family's eighth signal,
    # role separation via two-vector mutual recursion; same registry-full
    # rationale as kg_coreness — kg_pagerank holds the iterative-ranking
    # CORR row); L1-normalized for cross-engine exactness (sqrt is libm)
    "kg_hits",
    # sft_pairs — (user → next-assistant) instruction-tuning pair export
    # with the deterministic hash split (the conversational twin of
    # nli_training_export, whose map-only-over-kg shape shares the lane);
    # the window/lead machinery holds CORR rows elsewhere
    # (latest_event_per_user, scd2's lag/lead)
    "sft_pairs",
    # dedup_pr_eval — precision/recall of the LSH candidate generator vs
    # the exact-Jaccard ground truth (the banding-config acceptance test;
    # the dedup family's CORR rows pin both inputs); one pair-scale full
    # outer join + one conditional-count agg
    "dedup_pr_eval",
    # dpo_pairs — DPO preference-pair export: sft_pairs reused verbatim as
    # the source plus a deterministic in-batch negative (hash-bucketed
    # ring sampling — constant bucket size, batch count scales with the
    # corpus); joins sft_pairs in the training-export pytest lane
    "dpo_pairs",
    # tool_cooccurrence — order-free same-conversation tool association
    # (the basket_pairs shape over the north-rule input; the capability-
    # bundle view beside tool_transitions' ordered Markov view)
    "tool_cooccurrence",
    # tool_transitions — first-order Markov transition matrix over tool
    # invocations (the estimation twin of conv_tool_chain); one
    # conv-partitioned lead window + combinable pair counts + broadcast
    # per-tool totals
    "tool_transitions",
    # context_tail — token-budget context-window truncation per
    # conversation (suffix-running-sum window + filter); the running-frame
    # window shape holds the CORR row via running_user_value
    "context_tail",
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
    # kg_assortativity — degree-mixing Pearson coefficient over the entity
    # graph (the graph family's mixing-pattern signal; sufficient-statistics
    # one-pass, sqrt eliminated by the symmetrized-marginal identity)
    "kg_assortativity",
    # kg_calibration — reliability-diagram table for the NLI verdict scorer
    # (per-bin ECE terms; explicit bin formula, DECIMAL mean discipline) —
    # the model-monitoring eval beside dedup_pr_eval
    "kg_calibration",
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

# Single source for the sweep-capped queries: name → (spark_fn, sql | None),
# collected across every family dict. The pytest oracle lane
# (tests/test_entry_queries.py) and scripts/plan_audit.py both consume THIS
# mapping, so a new family dict added above cannot silently fall out of
# either gate (test_every_unregistered_name_is_collected pins completeness).
# _FAMILIES lists every family dict once, for this mapping and _GATELESS.
_FAMILIES = (
    RELATIONAL_QUERIES,
    TEXTOPS_QUERIES,
    ADVANCED_QUERIES,
    MLOPS_QUERIES,
    LMOPS_QUERIES,
    DISAMBIG_QUERIES,
    KG_EXTRA_QUERIES,
)
UNREGISTERED_QUERIES: dict[str, tuple] = {
    n: v for d in _FAMILIES for n, v in d.items() if n in _UNREGISTERED
}

ALL_QUERIES: dict[str, tuple] = {
    **KG_QUERIES,
    **{
        k: v
        for k, v in {
            **RELATIONAL_QUERIES,
            **TEXTOPS_QUERIES,
            **ADVANCED_QUERIES,
            **DISAMBIG_QUERIES,
            **MLOPS_QUERIES,
        }.items()
        if k not in _UNREGISTERED
    },
}
assert len(ALL_QUERIES) <= 50, "driver sweep records at most 50 rows"

# Reverse-direction completeness check: every name in every family dict must
# land in SOME gate — the registered sweep (ALL_QUERIES) or the pytest
# oracle lane (UNREGISTERED_QUERIES). Without this, a query added to a
# family dict but forgotten in _UNREGISTERED would silently lose every gate
# (LMOPS/KG_EXTRA are merged only into the unregistered side, so the <=50
# assert alone cannot notice).
_GATELESS = {n for d in _FAMILIES for n in d} - set(ALL_QUERIES) - set(
    UNREGISTERED_QUERIES
)
assert not _GATELESS, f"queries in no gate (register or add to _UNREGISTERED): {_GATELESS}"
