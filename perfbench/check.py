"""Expected output of a run, from the repo's pandas oracle.

The triples of a seeded sample of conversations must equal
`prove_spark.oracle.run_oracle` on those conversations row for row. The
table sizes are checked against counts that need no Spark: one triple per
claim sentence the claim detector accepts, one entity per canonical class,
one manifest row per bucket written.
"""

from __future__ import annotations

import math
import re

import pandas as pd


def expected_triples(trans: pd.DataFrame) -> int:
    """Claims the pipeline keeps: bare `<alias> <pattern> <alias>.`
    sentences whose predicate passes the datatype and property filters."""
    from prove_spark.config import DEFAULT_CONFIG
    from prove_spark.dictionaries import ALIASES, BAD_DATATYPES, BLACKLIST_PIDS, PREDICATES
    from prove_spark.functions.text import detect_claim, split_sentences

    aliases = sorted({a for a, _ in ALIASES})
    patterns = sorted({p for _, p, _, _ in PREDICATES})
    by_pattern = {p: (pid, dt) for pid, p, _, dt in PREDICATES}
    text = trans["text"].fillna("").str.slice(0, DEFAULT_CONFIG.max_turn_chars)
    # only turns that mention a predicate pattern can hold a claim
    hint = re.compile("|".join(re.escape(p) for p in patterns))
    flat = text.str.lower().str.replace(r"\s+", " ", regex=True)
    n = 0
    for t in text[flat.str.contains(hint)]:
        for sent in split_sentences(t):
            hit = detect_claim(sent, aliases, patterns)
            if hit is None:
                continue
            pid, dt = by_pattern[hit[1]]
            n += dt not in BAD_DATATYPES and pid not in BLACKLIST_PIDS
    return n


def expected_entities() -> int:
    from prove_spark.oracle import canonical_map

    return len(set(canonical_map().values()))


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return v.item() if hasattr(v, "item") else v

    df = df.sort_values("claim_id")[cols]
    return [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]


def sample_mismatch(trans: pd.DataFrame, sample: list[str], got_rows: list[dict]) -> str | None:
    """None when Spark's triples for `sample` equal the oracle's exactly."""
    from prove_spark.oracle import run_oracle

    want = run_oracle(trans[trans["conv_id"].isin(sample)])
    cols = list(want.columns)
    got = pd.DataFrame(got_rows, columns=cols)
    a, b = _rows(got, cols), _rows(want, cols)
    if a == b:
        return None
    if len(a) != len(b):
        return f"sample: {len(a)} triples, oracle {len(b)}"
    diff = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
    return f"sample row {diff}: {a[diff]} != oracle {b[diff]}"


def failures(result: dict, want: dict) -> list[str]:
    """What the run got wrong, as messages; `want` holds triples, entities,
    manifest and the oracle's sample frame and ids."""
    out = []
    n_triples = sum(result["verdicts"].values())
    for key, got in (("triples", n_triples), ("entities", result["entities"]),
                     ("manifest", result["manifest"])):
        if got != want[key]:
            out.append(f"{key}: {got} rows, expected {want[key]}")
    miss = sample_mismatch(want["transcripts"], want["sample"], result["sample_rows"])
    if miss:
        out.append(miss)
    return out
