"""Entity canonicalization vs the union-find oracle, and the distributed
connected-components core."""

from __future__ import annotations

from prove_spark.oracle import canonical_map
from prove_spark.pipeline.canonicalize import canonical_map_df


def test_local_union_find_matches_oracle(spark):
    got = {r.qid: r.canonical_qid for r in canonical_map_df(spark).collect()}
    want = canonical_map()
    assert got == want


def test_cc_folds_duplicates_and_chain(spark):
    got = {r.qid: r.canonical_qid for r in canonical_map_df(spark).collect()}
    assert got["Q205"] == "Q5"  # label-equality edge
    assert got["Q209"] == "Q9"
    assert got["Q309"] == "Q9"  # 3-chain via seed edge Q209-Q309
    assert got["Q1"] == "Q1"  # singletons untouched


def test_cc_long_chain_converges_in_log_rounds(spark):
    """Large-star/small-star is O(log d): a 64-node path graph must converge
    well within max_cc_iterations=20 (min-label propagation would need 63
    rounds and silently return a half-merged component)."""
    import pandas as pd

    from prove_spark.pipeline.canonicalize import connected_components_long

    n = 64
    edges = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(1, n)], columns=["u", "v"])
    )
    got = {
        r.u: r.root
        for r in connected_components_long(edges, require_converged=True).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_cc_star_forest_mixed_components(spark):
    """Multiple components of different shapes resolve to their min ids."""
    import pandas as pd

    from prove_spark.pipeline.canonicalize import connected_components_long

    edges = spark.createDataFrame(
        pd.DataFrame([(2, 3), (1, 3), (12, 10), (11, 12)], columns=["u", "v"])
    )
    got = {r.u: r.root for r in connected_components_long(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
    }


def test_connected_components_long_chain_and_cycle(spark):
    """The long-keyed CC core (r4: shared by entity canonicalization and
    LSH near-dup cluster resolution): chain + cycle + singleton edge all
    resolve to the component minimum."""
    import pandas as pd

    from prove_spark.pipeline.canonicalize import connected_components_long

    edges = pd.DataFrame(
        # chain 10-20-30-40, cycle 5-6-7-5, pair 100-99
        [(10, 20), (20, 30), (30, 40), (5, 6), (6, 7), (7, 5), (100, 99)],
        columns=["u", "v"],
    )
    got = {
        r.u: r.root
        for r in connected_components_long(spark.createDataFrame(edges)).collect()
    }
    assert got == {
        10: 10, 20: 10, 30: 10, 40: 10,
        5: 5, 6: 5, 7: 5,
        99: 99, 100: 99,
    }
