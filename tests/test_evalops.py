"""Crafted-fixture discrimination pins for the r5 eval/analytics operators
(the synthetic corpus exercises the plumbing and the oracle equality; these
fixtures pin that each statistic actually DISCRIMINATES — a degenerate Neyman
allocation, in/out-of-window attribution, basket lift, a live count-min error
lane, packed-vector edge semantics)."""

from __future__ import annotations

import pandas as pd

from prove_spark.plans.advanced import (
    ATTRIB_WINDOW_S,
    attribution_last_touch,
    basket_pairs,
)

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _events_dir(spark, tmp_path_factory, rows, name):
    d = tmp_path_factory.mktemp(name)
    pdf = pd.DataFrame(rows, columns=EVENT_COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    return str(d)


def _ev(i, ts, uid, etype, value):
    return [i, ts, uid, etype, value, "{}"]


# ---------------------------------------------------------------- Neyman
def test_neyman_zero_weight_is_null(spark, tmp_path_factory):
    # every stratum constant-valued -> every sd = 0 -> total weight 0 ->
    # quota undefined -> NULL alloc (not the NaN->0 Spark default) on the
    # same rows the DuckDB oracle NULLs
    from prove_spark.plans.textops import neyman_allocation

    rows = [_ev(i, "2024-01-01", 1, "view", 5.0) for i in range(3)]
    rows += [_ev(10 + i, "2024-01-01", 1, "click", 9.0) for i in range(3)]
    d = _events_dir(spark, tmp_path_factory, rows, "neyman_flat")
    out = neyman_allocation(spark, d).collect()
    assert len(out) == 2
    assert all(r.alloc is None for r in out)


# ------------------------------------------------------------ attribution
def test_attribution_window_and_none_lanes(spark, tmp_path_factory):
    # u1: view 1h before purchase -> credited 'view'
    # u2: purchase with no prior touch -> 'none'
    # u3: click OUTSIDE the 7-day lookback -> 'none'
    rows = [
        _ev(1, "2024-02-01 10:00:00", 1, "view", 1.0),
        _ev(2, "2024-02-01 11:00:00", 1, "purchase", 1.0),
        _ev(3, "2024-02-01 09:00:00", 2, "purchase", 1.0),
        _ev(4, "2024-01-01 00:00:00", 3, "click", 1.0),
        _ev(5, "2024-02-01 00:00:00", 3, "purchase", 1.0),
    ]
    assert ATTRIB_WINDOW_S < 31 * 86400  # fixture's stale touch is outside
    d = _events_dir(spark, tmp_path_factory, rows, "attrib")
    got = {
        r.channel: r.n_purchases
        for r in attribution_last_touch(spark, d).collect()
    }
    assert got == {"view": 1, "none": 2}


# ------------------------------------------------------------ basket pairs
def test_basket_pairs_lift(spark, tmp_path_factory):
    # parts 1+2 co-occur in both their baskets (lift = N/(2*2) = 1 with
    # N=4... craft: 4 baskets; {1,2} twice, {3} alone twice with part 4
    # rider so 3 never meets 1 -> pair (1,2): supp=2, lift = 2*4/(2*2)=2.
    li_cols = ["l_orderkey", "l_partkey"]
    rows = [[1, 1], [1, 2], [2, 1], [2, 2], [3, 3], [3, 4], [4, 3], [4, 4]]
    d = str(tmp_path_factory.mktemp("baskets"))
    pdf = pd.DataFrame(rows, columns=li_cols)
    spark.createDataFrame(pdf).write.parquet(f"{d}/lineitem.parquet")
    got = {(r.part_a, r.part_b): r for r in basket_pairs(spark, d).collect()}
    assert set(got) == {(1, 2), (3, 4)}
    assert got[(1, 2)].supp_ab == 2 and got[(1, 2)].lift == 2.0
    assert got[(1, 2)].confidence == 1.0


# -------------------------------------------------------- count-min sketch
def test_cms_one_sided_and_live(spark):
    # CMS guarantee: est >= exact ALWAYS; and the width-16 sketch must
    # actually collide on the 31-token vocabulary (a dead error lane would
    # mean the sketch read back exact and measured nothing)
    from prove_spark.plans.textops import cms_token_counts

    out = cms_token_counts(spark, "/root/testdata/sf0.001").collect()
    assert out
    assert all(r.overestimate >= 0 for r in out)
    assert all(r.est_cnt == r.exact_cnt + r.overestimate for r in out)
    assert any(r.overestimate > 0 for r in out)


# -------------------------------------------------- packed-vector edge lanes
def test_packed_ann_drops_empty_and_skips_null_elements(
    spark, tmp_path_factory
):
    # the packed zip_with fold must keep the exploded oracle's edge
    # semantics: an EMPTY embedding vanishes (UNNEST yields no rows there),
    # a NULL element folds as 0 (SQL SUM skips NULLs)
    import pandas as pd

    from prove_spark.plans.textops import ann_topk_cosine

    d = str(tmp_path_factory.mktemp("packed_edge"))
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 0),
        (5, [1.0, 1.0], 0),
        (6, [], 0),
        (7, [1.0, None], 0),
    ]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    spark.createDataFrame(
        pdf, "vec_id long, embedding array<double>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    out = ann_topk_cosine(spark, d).collect()
    got = {(r.query_id, r.neighbor_id): r.cosine for r in out}
    assert 6 not in {k[1] for k in got}  # empty vector dropped
    assert got[(0, 7)] == 1.0  # [1.0, NULL] folds as [1, 0]
    assert got[(1, 7)] == 0.0

