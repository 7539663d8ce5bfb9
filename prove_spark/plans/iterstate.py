"""Lineage truncation for iterative DataFrame algorithms.

Iterative queries (kg_pagerank, kmeans' _train_centroids, and every other
query that feeds round t's output into round t+1) double the
logical plan per round even when every round's RESULT is persisted:
`.persist()` caches the data but keeps the full lineage, so Catalyst
re-analyzes and re-optimizes a tree that grows exponentially with rounds
(kg_pagerank's 6 rounds print as an 831-exchange static plan; runtime
schedules only 39 stages, but the *driver-side* analysis cost grows
superlinearly — at 20+ rounds of real PageRank the driver becomes the
bottleneck, and at bench scale it already dominates wall: kmeans at sf0.1 =
128k exploded rows spent ~15 of 18 s in planning).

`truncate_round` cuts the tree: each round's result is
`localCheckpoint(eager=True)`-ed, which materializes the few-hundred-row
round state to executor block storage and replaces its lineage with a scan,
so round t+1 plans against a leaf instead of t stacked rounds (see the
measured planning-time-vs-rounds table in BASELINE.md).

localCheckpoint (not reliable checkpoint-to-warehouse) is the right cut for
round state: the relations are tiny (k x dim centroids, node-count ranks),
recomputation on executor loss just re-runs the round, and no cluster-wide
checkpoint dir needs configuring. Values are identical to an uncut plan —
the checkpoint stores exactly the computed rows, so oracle hashes are
unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_round(df: DataFrame) -> DataFrame:
    """Materialize one iteration's round state and truncate its lineage.

    Block lifecycle: localCheckpoint blocks cannot be freed by
    DataFrame.unpersist (they belong to the checkpoint RDD, not a persisted
    plan) and are released by the ContextCleaner when the RDD reference is
    garbage-collected. That is deliberate slack, bounded by design: every
    caller checkpoints node/edge/round-scale relations (KBs-MBs), never
    corpus-scale data, so a sweep loop leaks at most a few small block sets
    between GCs."""
    return df.localCheckpoint(eager=True)
