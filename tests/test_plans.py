"""Physical-plan assertions: the scale properties we designed for must
survive refactors. These parse `.explain("formatted")` output — brittle by
nature, so each assertion targets a stable plan-node name, not layout."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import DataFrame

from prove_spark.config import DEFAULT_CONFIG

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _cache_free_session(spark):
    """Plan assertions require a cache-free session: Spark's cache manager
    substitutes InMemoryRelation into ANY later plan that structurally
    matches a persisted one, and the engine's deferred-unpersist registries
    (released on the NEXT invocation — registry._KG_CACHES,
    mlops._KMEANS_CACHES) legitimately leave the last run's caches live
    across test modules. A cached relation that matches part of a later
    plan turns that plan's scan into an InMemoryTableScan, which can add
    an Exchange the plan assertions do not expect."""
    spark.catalog.clearCache()
    yield


def plan_of(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_filter_pushed_to_scan(spark):
    """Predicate pushdown: the shipdate filter must reach the parquet scan."""
    from prove_spark.plans.registry import ALL_QUERIES

    fn, _ = ALL_QUERIES["q1_pricing_summary"]
    plan = plan_of(fn(spark, SF))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200], "shipdate filter not pushed to scan"


def test_region_revenue_broadcasts_dims(spark):
    """Small dims (region, nation) must broadcast, never shuffle the fact."""
    from prove_spark.plans.registry import ALL_QUERIES

    fn, _ = ALL_QUERIES["region_revenue"]
    plan = plan_of(fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_jvm_engine_has_no_python_nodes(spark):
    """engine='jvm' must produce a plan with ZERO Python evaluation nodes —
    the whole point of the expression twins."""
    from prove_spark.datagen import transcripts_df
    from prove_spark.pipeline.run import build_triples

    tr = transcripts_df(spark, SF)
    df = build_triples(spark, tr, persist_sentences=False)
    plan = plan_of(df)
    # transcripts synthesis itself is one mapInPandas source; beyond that
    # no ArrowEvalPython / BatchEvalPython may appear
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_arrow_engine_python_stages_and_mapside_topk(spark):
    """engine='arrow' runs the model stand-ins as Python/Arrow stages AND
    (since the r4 batch-vectorized scorer) scores map-side so the partial
    WindowGroupLimit cuts the pair exchange — same shuffle shape as the
    JVM engine."""
    from prove_spark.datagen import transcripts_df
    from prove_spark.pipeline.run import build_triples

    tr = transcripts_df(spark, SF)
    cfg = replace(DEFAULT_CONFIG, engine="arrow")
    plan = plan_of(build_triples(spark, tr, cfg, persist_sentences=False))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "WindowGroupLimit" in plan, "partial top-k not map-side (arrow)"


def test_jvm_engine_keeps_mapside_topk(spark):
    """The evidence top-k must run partially map-side (WindowGroupLimit
    before the exchange) so the pair explosion never fully shuffles."""
    from prove_spark.datagen import transcripts_df
    from prove_spark.pipeline import stages

    tr = transcripts_df(spark, SF)
    base = stages.extract_sentences(tr)
    ev = stages.with_slide_windows(base)
    v = stages.verbalize(stages.link_and_filter(stages.detect_claims(base), spark))
    plan = plan_of(stages.score_evidence(v, ev))
    assert plan.count("WindowGroupLimit") >= 2, "partial top-k not map-side"


def test_shingles_only_exchange_is_the_scan_rebalance(spark):
    """Shingle construction adds no shuffle of its own: the only Exchange
    permitted is the conditional scan rebalance (single-row-group parquet →
    1 split), which hash-partitions RAW docs on doc_id before the explode."""
    from prove_spark.plans.textops import _shingles

    import re

    plan = plan_of(_shingles(spark, SF))
    # formatted explain prints each node twice (tree + detail section) —
    # count detail headers "(n) Exchange" for the true node count. The
    # fixture parquet is a single split, so the rebalance fires exactly when
    # the runner has >1 core — don't hard-code the 32-CPU sandbox.
    expected = 1 if spark.sparkContext.defaultParallelism > 1 else 0
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == expected
    if expected:
        assert "hashpartitioning(doc_id" in plan


def test_scan_rebalance_is_noop_on_parallel_input(spark):
    """An input already fanned out to >= core count must NOT gain an
    exchange — at real scale the source supplies the splits and the
    rebalance vanishes from the plan."""
    from prove_spark.plans.textops import _rebalance_scan

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(10_000).withColumnRenamed("id", "doc_id").repartition(cores)
    out = _rebalance_scan(spark, df)
    assert out is df


def test_window_fanout_byte_floor(spark, monkeypatch, tmp_path):
    """The pre-window fan-out fires only when the concentrated scan carries
    enough bytes for the serial sort to dominate an extra shuffle wave
    (r6 byte floor): a dictionary-scale table must come back untouched, the
    same table must repartition once the floor is lowered to zero, a
    directory-layout table must be sized by its data files (not by the
    directory entry), and an already-parallel input must stay untouched
    regardless of size."""
    import prove_spark.plans.relational as R

    events = R._t(spark, SF, "events")  # ~30 KB at sf0.001: below any floor
    assert R._fan_out_for_window(spark, events, "user_id") is events

    monkeypatch.setattr(R, "_FANOUT_MIN_BYTES", 0)
    if spark.sparkContext.defaultParallelism > 1:
        out = R._fan_out_for_window(spark, events, "user_id")
        assert out is not events
        assert "hashpartitioning(user_id" in plan_of(out)

        # the same rows as a directory table (Spark's write layout), with
        # the floor at exactly its data bytes: sized right, it fans out
        import glob
        import os

        dir_sf = str(tmp_path / "dir_sf")
        events.coalesce(1).write.parquet(f"{dir_sf}/events.parquet")
        data_bytes = sum(
            os.path.getsize(p) for p in glob.glob(f"{dir_sf}/events.parquet/*.parquet")
        )
        monkeypatch.setattr(R, "_FANOUT_MIN_BYTES", data_bytes)
        dir_events = R._t(spark, dir_sf, "events")
        out = R._fan_out_for_window(spark, dir_events, "user_id")
        assert out is not dir_events
        assert "hashpartitioning(user_id" in plan_of(out)

    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).withColumn("user_id", F.col("id")).repartition(cores)
    assert R._fan_out_for_window(spark, wide, "user_id") is wide


def test_entity_rollup_is_two_phase(spark):
    """Salted pivot: two aggregation phases (salt then merge), so a hot
    entity cannot bottleneck a single reducer."""
    from prove_spark.datagen import transcripts_df
    from prove_spark.pipeline.run import build_triples, entity_rollup

    tr = transcripts_df(spark, SF)
    plan = plan_of(entity_rollup(build_triples(spark, tr, persist_sentences=False)))
    assert "HashAggregate" in plan
    assert "pmod" in plan or "salt" in plan


def test_dedup_df_cap_bounds_hot_shingle_fanout(spark, tmp_path):
    """Adversarial hot shingle: k docs sharing one stop-shingle would emit
    k*(k-1)/2 self-join pairs uncapped. With the df-cap the hot shingle is
    dropped from the Jaccard universe, so the pair count stays bounded (here:
    zero, since the docs share nothing else)."""
    import pandas as pd

    from prove_spark.plans.textops import MAX_SHINGLE_DF, dedup_ngram_jaccard

    k = MAX_SHINGLE_DF * 3  # well past the cap
    rows = [
        # one shared 3-gram ("hot stop shingle") + unique filler per doc
        {"doc_id": i, "text": f"hot stop shingle unique{i} filler{i} tail{i}"}
        for i in range(k)
    ]
    d = str(tmp_path)
    pd.DataFrame(rows).to_parquet(f"{d}/documents.parquet")
    pairs = dedup_ngram_jaccard(spark, d)
    assert pairs.count() == 0, "hot shingle survived the df-cap"
    # sanity: below the cap the same shape DOES pair up (cap is not a
    # drop-everything filter) — two identical docs must match
    rows2 = [
        {"doc_id": 0, "text": "alpha beta gamma delta"},
        {"doc_id": 1, "text": "alpha beta gamma delta"},
    ]
    d2 = str(tmp_path / "small")
    (tmp_path / "small").mkdir()
    pd.DataFrame(rows2).to_parquet(f"{d2}/documents.parquet")
    out = dedup_ngram_jaccard(spark, d2).collect()
    assert len(out) == 1 and out[0].jaccard == 1.0


def test_lsh_bucket_cap_bounds_hot_bucket(spark, tmp_path):
    """Adversarial LSH bucket: k identical docs share every band bucket →
    k*(k-1)/2 pairs uncapped. Buckets above LSH_BUCKET_CAP are dropped, so
    the flood never reaches the self-join; distinct near-dup pairs below the
    cap still pair up."""
    import pandas as pd

    from prove_spark.plans.textops import LSH_BUCKET_CAP, lsh_candidate_pairs

    k = LSH_BUCKET_CAP * 2
    rows = [{"doc_id": i, "text": "identical text body of this document"} for i in range(k)]
    # two genuinely similar (but not hot) docs that must still be found
    rows += [
        {"doc_id": 9000, "text": "rare alpha beta gamma delta epsilon zeta"},
        {"doc_id": 9001, "text": "rare alpha beta gamma delta epsilon zeta"},
    ]
    d = str(tmp_path)
    pd.DataFrame(rows).to_parquet(f"{d}/documents.parquet")
    got = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(spark, d).collect()}
    assert (9000, 9001) in got
    assert all(a == 9000 for a, _ in got), "hot-bucket pairs leaked past the cap"


def test_hll_user_counts_accuracy(spark):
    """The sketch estimate must land within ±2% of the exact distinct count
    per group (lgConfigK=14 → ~0.5% RSE; 2% is 4σ), and n_events is exact."""
    from pyspark.sql import functions as F

    from prove_spark.plans.advanced import hll_user_counts

    sf = "/root/testdata/sf0.001"
    got = {r.event_type: r for r in hll_user_counts(spark, sf).collect()}
    exact = {
        r.event_type: r
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert set(got) == set(exact) and len(got) > 0
    for et, r in got.items():
        e = exact[et]
        assert abs(r.approx_users - e.exact_users) <= max(1, 0.02 * e.exact_users), (
            et,
            r.approx_users,
            e.exact_users,
        )
        assert r.n_events == e.n_events


def test_approx_value_quantiles_rank_guarantee(spark):
    """percentile_approx returns an ACTUAL element of each group whose rank
    is within n/accuracy of the target rank (GK sketch contract); n_values
    is exact. At accuracy=10k and test-scale n the bound is ±1 rank."""
    from prove_spark.plans.advanced import approx_value_quantiles

    sf = "/root/testdata/sf0.001"
    got = {r.event_type: r for r in approx_value_quantiles(spark, sf).collect()}
    by_type: dict[str, list[float]] = {}
    for r in (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("event_type", "value")
        .where("value IS NOT NULL")
        .collect()
    ):
        by_type.setdefault(r.event_type, []).append(r.value)
    assert set(got) == set(by_type) and len(got) > 0
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        r = got[et]
        assert r.n_values == n
        for q, v in [(0.5, r.p50), (0.9, r.p90), (0.99, r.p99)]:
            assert v in vals, (et, q, v)
            # rank of the returned element (1-based, any tie position)
            lo = sum(1 for x in vals if x < v) + 1
            hi = sum(1 for x in vals if x <= v)
            target = q * n
            slack = max(1.0, n / 10_000)
            assert lo - slack <= target <= hi + slack, (et, q, v, lo, hi, target)


def test_scd2_intervals_are_contiguous_and_single_exchange(spark):
    """SCD2 invariants: per user the intervals chain (valid_to of row i ==
    valid_from of row i+1), exactly one row is current, consecutive states
    differ — and the physical plan pays exactly one exchange (both windows
    ride the same (user_id, ts, event_id) sort)."""
    from prove_spark.plans.advanced import scd2_user_state

    df = scd2_user_state(spark, SF)
    # executedPlan string lists each node once (the formatted variant
    # repeats nodes in the detail section and would double-count)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    rows = df.collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in rs if r.is_current) == 1, uid
        assert rs[-1].is_current and rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, uid
            assert a.state != b.state, uid


def test_fuzzy_match_is_best_in_block_and_not_allpairs(spark):
    """Fuzzy ER invariants: every match shares the blocking token and sits
    within the lev threshold; the reported match is the true argmin over
    the full block (checked against a driver-side brute force inside one
    block); the join is a hash join, never cartesian."""
    from prove_spark.plans.advanced import fuzzy_part_matches

    df = fuzzy_part_matches(spark, SF)
    plan = plan_of(df)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    parts = {
        r.p_partkey: r.p_name
        for r in spark.read.parquet(f"{SF}/part.parquet").collect()
    }
    got = df.collect()
    assert got

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    for r in got:
        assert r.p_name.split(" ")[0] == r.match_name.split(" ")[0]
        assert r.lev == lev(r.p_name, r.match_name) <= 3
        # true argmin over the block (lev, then key) — length-band prefilter
        # must not have pruned a better candidate
        blk = r.p_name.split(" ")[0]
        best = min(
            (
                (lev(r.p_name, n), k)
                for k, n in parts.items()
                if k != r.p_partkey and n.split(" ")[0] == blk
            ),
        )
        assert best[0] > 3 or (best[0], best[1]) == (r.lev, r.match_key), (
            r,
            best,
        )


def test_heavy_hitters_exact_under_skew_and_partitioning(spark, tmp_path):
    """The two-pass Misra-Gries output must equal the exact HAVING-count
    answer regardless of partition layout (the candidate union is a
    superset of true heavy hitters by pigeonhole — pass 2 makes it exact),
    including on an adversarial corpus where one token dominates and the
    long tail would evict naive counters."""
    import duckdb
    import pandas as pd

    from prove_spark.plans.compare import compare
    from prove_spark.plans.textops import (
        HEAVY_HITTER_SQL,
        HH_K,
        heavy_hitter_tokens,
    )

    rows = [{"doc_id": 0, "text": "hot " * 500 + "hot"}]
    rows += [
        {"doc_id": i, "text": f"uniq{i}a uniq{i}b warm"} for i in range(1, 60)
    ]
    d = str(tmp_path / "hh")
    pdf = pd.DataFrame(rows)
    # many small partitions: every MG instance sees only a slice
    spark.createDataFrame(pdf).repartition(13).write.parquet(
        f"{d}/documents.parquet"
    )
    got = heavy_hitter_tokens(spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    exact = con.execute(HEAVY_HITTER_SQL).df()
    assert not compare(got, exact)
    # sanity on the scenario itself: 'hot' dominates, tail tokens do not
    n_total = 501 + 59 * 3
    assert "hot" in set(got.token) and 501 * HH_K > n_total
    assert not any(t.startswith("uniq") for t in got.token)


def test_kll_sketch_rollup_rank_guarantee(spark):
    """Merged per-day KLL sketches must answer per-type quantiles within the
    sketch's rank guarantee: the returned value's TRUE rank lies within 5%
    of the target rank (k=200 -> ~1.65% normalized rank error at 99%
    confidence; 5% is a wide safety factor since KLL is randomized)."""
    from pyspark.sql import functions as F

    from prove_spark.plans.advanced import kll_sketch_rollup

    got = {r.event_type: r for r in kll_sketch_rollup(spark, SF).collect()}
    vals = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type: dict = {}
    for r in vals:
        by_type.setdefault(r.event_type, []).append(r.value)
    assert set(got) == set(by_type) and got
    for et, r in got.items():
        xs = sorted(by_type[et])
        n = len(xs)
        assert r.n_values == n
        for q, v in ((0.5, r.p50), (0.9, r.p90)):
            true_rank = sum(1 for x in xs if x <= v) / n
            assert abs(true_rank - q) <= 0.05, (et, q, v, true_rank)
