"""Deterministic synthetic transcripts (FIXTURES.md §1).

Conversations are derived purely arithmetically from the driver-generated
`documents` table (doc_id → conv structure; no RNG), so the Spark pipeline,
the pandas oracle, DuckDB oracles, and benchmarks all see byte-identical
inputs at every scale factor. Shape follows BASELINE.json input_hint:
(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp).

Skew: subject mentions are routed to HOT_QIDS ~50% of the time → a few
entities are genuinely hot, exercising salted aggregation/join paths.
Rows are emitted in a deterministically *shuffled* order so that stable
(conv_id, turn_idx) re-ordering (the per-row invariant) is actually tested.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

import pandas as pd

from .dictionaries import ALIASES, ENTITIES, HOT_QIDS, PREDICATES

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

_ALIASES_BY_QID: dict[str, list[str]] = {}
for _alias, _qid in ALIASES:
    _ALIASES_BY_QID.setdefault(_qid, []).append(_alias)
for _qid in _ALIASES_BY_QID:
    _ALIASES_BY_QID[_qid].sort()

_LABEL_BY_QID = dict(ENTITIES)

# Disambiguation prior: an ambiguous alias links to its most-popular QID by
# sitelink count (the reference's N_connected_site sort, functions.py:
# 642-669). Datagen uses the same rule so injected evidence matches what the
# popularity-ranked linker will resolve.
from .dictionaries import resolve_alias_map

_LINKED_QID_BY_ALIAS: dict[str, str] = resolve_alias_map()

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "browser", "python", ""]


def _subject_qid(doc_id: int, j: int) -> str:
    h = (doc_id * 7 + j * 13) % 20
    if h < 10:  # 50% of subjects land on 3 hot entities
        return HOT_QIDS[h % len(HOT_QIDS)]
    return ENTITIES[(doc_id * 7 + j * 13) % len(ENTITIES)][0]


def _alias_for(qid: str, k: int) -> str:
    al = _ALIASES_BY_QID[qid]
    return al[k % len(al)]


def _conv_sentences(doc_id: int, text: str) -> list[str]:
    """Build the ordered sentence list for one conversation."""
    words = text.split()
    fillers = [
        " ".join(words[i : i + 10]) + "." for i in range(0, max(len(words), 1), 10)
    ]
    if doc_id % 7 == 0 and fillers:
        fillers[0] = fillers[0][:-1] + "（extra）."  # unicode normalization path

    n_claims = 1 + doc_id % 3
    claim_sents: list[str] = []
    evidence_sents: list[str] = []
    for j in range(n_claims):
        subj_qid = _subject_qid(doc_id, j)
        pid, pattern, plabel, _dt = PREDICATES[(doc_id * 11 + j * 5) % len(PREDICATES)]
        obj_qid = ENTITIES[(doc_id * 3 + j * 17 + 1) % len(ENTITIES)][0]
        if obj_qid == subj_qid:
            obj_qid = ENTITIES[(doc_id * 3 + j * 17 + 2) % len(ENTITIES)][0]
        subj_alias = _alias_for(subj_qid, doc_id + j)
        obj_alias = _alias_for(obj_qid, doc_id + 2 * j)
        claim_sents.append(f"{subj_alias} {pattern} {obj_alias}.")

        linked_subj = _LINKED_QID_BY_ALIAS[subj_alias]
        linked_obj = _LINKED_QID_BY_ALIAS[obj_alias]
        s_label = _LABEL_BY_QID[linked_subj]
        o_label = _LABEL_BY_QID[linked_obj]
        mode = (doc_id + 2 * j) % 4
        if mode in (0, 1):  # supporting evidence (verbalized-claim superset)
            evidence_sents.append(f"indeed {s_label} {plabel} {o_label}.")
        elif mode == 2:  # refuting evidence
            evidence_sents.append(f"{s_label} does not {pattern} {o_label}.")
        # mode 3 → no injected evidence → NEI

    # interleave: filler, claim, filler, evidence, filler, claim, ...
    out: list[str] = []
    fi, ci, ei = 0, 0, 0
    while ci < len(claim_sents) or ei < len(evidence_sents) or fi < len(fillers):
        if fi < len(fillers):
            out.append(fillers[fi])
            fi += 1
        if ci < len(claim_sents):
            out.append(claim_sents[ci])
            ci += 1
        if fi < len(fillers):
            out.append(fillers[fi])
            fi += 1
        if ei < len(evidence_sents):
            out.append(evidence_sents[ei])
            ei += 1
    return out


def build_transcripts_pdf(docs_pdf: pd.DataFrame) -> pd.DataFrame:
    """documents(doc_id, text, ...) → transcripts rows (deterministic)."""
    rows: list[tuple] = []
    for doc_id, text in zip(docs_pdf["doc_id"], docs_pdf["text"]):
        doc_id = int(doc_id)
        conv_id = f"conv-{doc_id:06d}"
        sents = _conv_sentences(doc_id, text)
        # pack sentences into turns of 1..3 sentences
        turn_idx = 0
        i = 0
        while i < len(sents):
            size = (doc_id + turn_idx) % 3 + 1
            turn_text = " ".join(sents[i : i + size])
            role = _ROLES[turn_idx % 3]
            tool = _TOOLS[(doc_id + turn_idx) % 4] if role == "tool" else ""
            # modulo keeps replicated doc_ids inside pandas' datetime64 range
            ts = _EPOCH + timedelta(seconds=(doc_id % 1_000_000) * 1000 + turn_idx * 7)
            rows.append((conv_id, turn_idx, role, turn_text, tool, ts))
            turn_idx += 1
            i += size
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).dt.tz_localize(None)
    # deterministic shuffle so downstream ordering is meaningful to test
    key = (pdf["conv_id"] + ":" + pdf["turn_idx"].astype(str)).map(
        lambda s: hashlib.md5(s.encode()).hexdigest()
    )
    return pdf.loc[key.sort_values().index].reset_index(drop=True)


TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


# Lazy PLAN memo (r6): one transcripts DataFrame per (session, sf_dir,
# replicate). Pure plan-object reuse, no data caching — every action on the
# returned DF still scans the documents parquet. A stable object identity
# is what lets pipeline.run's _PLAN_MEMO recognise repeat kg_* invocations
# (it keys on id(transcripts)).
_TRANSCRIPTS_MEMO: dict = {}


def transcripts_df(spark, sf_dir: str, replicate: int = 1):
    """Distributed transcript synthesis: mapInPandas over the documents scan.

    Each Arrow batch of documents yields its conversations independently —
    no shuffle, scales linearly with the documents table.

    replicate > 1 fans each document out to `replicate` distinct doc_ids
    (still fully deterministic — the offset changes the arithmetic, giving
    fresh conversations), used to size benchmark/scaling runs independently
    of the fixed sf dirs.
    """
    import os as _os

    key = (
        spark.sparkContext.applicationId,
        _os.path.realpath(sf_dir),
        replicate,
    )
    hit = _TRANSCRIPTS_MEMO.get(key)
    if hit is not None:
        return hit
    for k in [k for k in _TRANSCRIPTS_MEMO if k[0] != key[0]]:
        del _TRANSCRIPTS_MEMO[k]
    df = _build_transcripts_df(spark, sf_dir, replicate)
    _TRANSCRIPTS_MEMO[key] = df
    return df


def _build_transcripts_df(spark, sf_dir: str, replicate: int):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if replicate > 1:
        docs = docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        ).select(
            (
                F.col("doc_id")
                + F.col("rep").cast("long") * F.lit(10_000_000).cast("long")
            ).alias("doc_id"),
            "text",
        )
        # spread replicas across tasks so parallelism scales with `replicate`
        docs = docs.repartition(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), replicate)
        )

    def gen(batches):
        for pdf in batches:
            yield build_transcripts_pdf(pdf)

    return docs.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
