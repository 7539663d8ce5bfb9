#!/usr/bin/env python
"""Physical-plan health audit over every query in the registry.

For each registered + unregistered query this walks the executed plan
(sf0.001 input so planning is instant; AQE left on, so the shapes match
what actually runs) and reports the properties that decide 100 TB behavior:

  exch    shuffle exchange count (every one is a full re-shuffle of its input)
  bcast   broadcast exchanges (dimension sides correctly kept off the shuffle)
  scan    parquet scans, and whether any filter got pushed into them
  wsc     WholeStageCodegen spans (JVM-compiled pipeline regions)
  python  Arrow-batched Python stages (mapInPandas etc. — the NN stand-ins)
  FLAGS   anti-patterns: CartesianProduct / BroadcastNestedLoopJoin /
          row-at-a-time BatchEvalPython — empty is the only acceptable value
          for the default JVM engine

Writes PLAN_AUDIT.md (one row per query) so each round's plan review is a
diffable artifact instead of a manual spot-check. Exit code 1 if any FLAGS
column is non-empty, or, before anything runs, if an ALLOWED waiver names no
audited query. Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ANTI = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

# Documented waivers: BroadcastNestedLoopJoin is the physical shape Spark
# gives a crossJoin(broadcast(one_row_aggregate)) — the "scalar rides as a
# 1-row broadcast instead of a driver collect" pattern. Harmless at any
# scale (the streamed side passes through once; the build side is one row).
# Each waiver is INSTANCE-COUNTED (pattern, max occurrences in the plan
# string): a waived query that gains a NEW instance of the same
# anti-pattern — e.g. a table-scale BNLJ regression next to the blessed
# 1-row one — blows past its cap and flags instead of hiding behind the
# class-level waiver.
ALLOWED: dict[str, tuple[str, int]] = {
    # 1-row node-count broadcast: init ranks + one per PageRank round
    "kg_pagerank": ("BroadcastNestedLoopJoin", 7),
    "tfidf_top_terms": ("BroadcastNestedLoopJoin", 1),  # 1-row corpus size
    "bm25_rank": ("BroadcastNestedLoopJoin", 1),  # 1-row (n_docs, sum_dl)
    # same 1-row bm25 stats broadcast, riding in via the composed lexical leg
    "rrf_hybrid_rank": ("BroadcastNestedLoopJoin", 1),
    # dim-sized alias dictionary crossJoin (scale note: Aho-Corasick,
    # plans/disambig.py)
    "alias_resolve_popularity": ("BroadcastNestedLoopJoin", 1),
    "heavy_hitter_tokens": ("BroadcastNestedLoopJoin", 1),  # 1-row total
    # 1-row weight-sum + feasible-total broadcasts in counts/quota
    "mixture_resample": ("BroadcastNestedLoopJoin", 3),
    # 1-row corpus-size broadcast feeding the df band filter: the banded
    # relation is consumed by BOTH sides of the pair self-join, so the one
    # logical crossJoin prints as two physical instances
    "token_pmi": ("BroadcastNestedLoopJoin", 2),
    # 1-row (min,max) price-range broadcast feeding width_bucket; the
    # bucketed relation is consumed by the group pass AND the row-level
    # join-back, so the one logical crossJoin prints as three physical
    # instances in the re-expanded plan string
    "pareto_frontier_parts": ("BroadcastNestedLoopJoin", 3),
    # the 1-row bloom-bitset broadcast crossJoin — the operator's entire
    # point (map-side probe pruning before the join shuffle)
    "bloom_semi_join": ("BroadcastNestedLoopJoin", 1),
    # 1-row subspace-split-point broadcast feeding each encoder slice (the
    # two final assignment slices re-expand it in the plan string)
    "pq_codes": ("BroadcastNestedLoopJoin", 3),
    # 1-row basket-count broadcast feeding the lift denominator
    "basket_pairs": ("BroadcastNestedLoopJoin", 1),
    # 1-row quantized-weight DECIMAL total broadcast feeding the quota
    "neyman_allocation": ("BroadcastNestedLoopJoin", 1),
    # query-set-sized broadcast (5 rows) — the packed map-side scoring pass:
    # DB side never shuffles before the top-k window
    "ann_topk_cosine": ("BroadcastNestedLoopJoin", 1),
    # the same 5-row query-set broadcast riding in via the composed
    # brute-force truth leg (ann_topk_cosine reused verbatim); its two
    # consumers (hit join + k_true rollup) re-expand it twice in the plan
    "ann_recall_eval": ("BroadcastNestedLoopJoin", 2),
}


def audit_one(name: str, fn, spark, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    # Execute it and record the number of stages the scheduler actually
    # created (dagScheduler.nextStageId delta) — the plan STRING of an
    # iterative/cached query textually re-expands shared lineage per
    # consumer (kg_pagerank prints ~800 exchanges but schedules ~54
    # stages), so the static counts are upper bounds and `stages` is the
    # runtime ground truth. Stage deltas depend on run order for queries
    # sharing the kg cache (first kg query pays the build).
    nsid = lambda: spark.sparkContext._jsc.sc().dagScheduler().nextStageId()
    before = nsid()
    df.count()
    stages = nsid() - before
    plan = df._jdf.queryExecution().executedPlan().toString()
    allowed_pat, allowed_max = ALLOWED.get(name, ("", 0))
    flags, waived = [], ""
    for a in ANTI:
        cnt = plan.count(a)
        if not cnt:
            continue
        if a == allowed_pat and cnt <= allowed_max:
            waived = f"{a} x{cnt} (cap {allowed_max})"
        elif a == allowed_pat:
            flags.append(f"{a} x{cnt} EXCEEDS cap {allowed_max}")
        else:
            flags.append(f"{a} x{cnt}")
    flags.sort()
    return {
        "name": name,
        "exch": len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan)),
        "bcast": plan.count("BroadcastExchange"),
        "scan": plan.count("Scan parquet"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        # codegen regions print as "*(n) Operator" — count distinct span ids
        "wsc": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        "stages": stages,
        "flags": ",".join(flags),
        "waived": waived or "",
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from prove_spark.plans.registry import ALL_QUERIES, UNREGISTERED_QUERIES
    from prove_spark.session import get_spark

    # the shared registry mapping — NOT a local re-collection, so a new
    # query-family dict cannot silently fall out of this audit
    unreg = UNREGISTERED_QUERIES
    stale = sorted(set(ALLOWED) - set(ALL_QUERIES) - set(unreg))
    if stale:
        print(f"ALLOWED waivers for no audited query: {stale}", file=sys.stderr)
        return 1
    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=8)

    rows, failed = [], []
    for section, queries in (("registered", ALL_QUERIES), ("unregistered", unreg)):
        for name in sorted(queries):
            fn = queries[name][0]
            try:
                r = audit_one(name, fn, spark, sf_dir)
            except Exception as e:  # audit must cover everything or say why
                r = {"name": name, "flags": f"AUDIT_ERROR:{type(e).__name__}"}
                failed.append(name)
            r["section"] = section
            rows.append(r)
            if r.get("flags"):
                print(f"FLAG {name}: {r['flags']}", file=sys.stderr)

    cols = [
        "name", "exch", "bcast", "scan", "pushed", "wsc", "python",
        "stages", "flags", "waived",
    ]
    out = [
        "# Physical-plan audit",
        "",
        f"Generated by scripts/plan_audit.py at sf_dir={sf_dir} (AQE on, "
        "local[8]; each query EXECUTED so the audited plan is the AQE "
        "final plan with caches materialized). Columns: shuffle exchanges "
        "/ broadcast exchanges / parquet scans / scans with pushed "
        "filters / WholeStageCodegen spans / Arrow-batched Python stages "
        "/ `stages` = stages the scheduler actually created running the "
        "query (runtime ground truth; the static counts are upper bounds "
        "for cached/iterative lineage, whose plan strings re-expand "
        "shared subtrees textually) / anti-pattern flags (cartesian, "
        "broadcast-nested-loop, row-at-a-time Python — must be empty) / "
        "documented waivers (1-row-broadcast crossJoins, see ALLOWED in "
        "the script). Stage deltas depend on run order where queries "
        "share the kg cache (the first kg query pays the build).",
        "",
    ]
    for section in ("registered", "unregistered"):
        out += [f"## {section}", "", "| " + " | ".join(cols) + " |",
                "|" + "---|" * len(cols)]
        for r in rows:
            if r["section"] == section:
                out.append(
                    "| " + " | ".join(str(r.get(c, "")) for c in cols) + " |"
                )
        out.append("")
    bad = [r for r in rows if r.get("flags")]
    out.append(
        f"Totals: {len(rows)} queries audited, {len(bad)} flagged, "
        f"{len(failed)} audit errors."
    )
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"PLAN_AUDIT.md: {len(rows)} queries, {len(bad)} flagged")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
