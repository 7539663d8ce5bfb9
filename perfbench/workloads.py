"""Seeded inputs for the job-path benchmark.

Documents are drawn from a seeded RNG in the shape of the sf `documents`
table (a doc id plus 10-100 words from its 31-word vocabulary) and turned
into transcripts by `prove_spark.datagen.build_transcripts_pdf`, so every
conversation carries 1-3 injected claims with supporting, refuting or no
evidence, in at most 8 turns. The program under test receives only the
parquet files written from these frames.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd

# the word list of the sf documents table
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

N_DOCS = 4000  # conversations in a build input and in the delta base
DOC_ID_SPACE = 1_000_000  # datagen names conversations conv-<doc_id:06d>
# The delta base corpus is the same for every seed, so its warehouse is
# built once per checkout; the seed picks the delta.
BASE_SEED = 1
N_EDIT, N_DELETE, N_ADD = 4, 2, 2
N_BUCKETS = 32  # PipelineConfig.n_buckets: the warehouse's bucket count


def documents(seed: int, n_docs: int, exclude=()) -> pd.DataFrame:
    """`n_docs` distinct doc ids outside `exclude`, each with 10-100 words."""
    rng = np.random.default_rng(seed)
    pool = np.setdiff1d(np.arange(DOC_ID_SPACE), np.asarray(list(exclude), dtype=np.int64))
    ids = np.sort(rng.choice(pool, n_docs, replace=False))
    return pd.DataFrame({"doc_id": ids, "text": [_text(rng) for _ in ids]})


def _text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))


def transcripts(docs: pd.DataFrame) -> pd.DataFrame:
    from prove_spark.datagen import build_transcripts_pdf

    out = build_transcripts_pdf(docs)
    # Spark reads microsecond timestamps; pandas writes nanoseconds
    out["ts"] = out["ts"].astype("datetime64[us]")
    return out


def build_input(seed: int) -> pd.DataFrame:
    return transcripts(documents(seed, N_DOCS))


def delta_input(seed: int) -> tuple[pd.DataFrame, dict[str, list[str]]]:
    """The base corpus after a seeded delta: N_EDIT conversations rewritten,
    N_DELETE removed and N_ADD new ones, each in a bucket of its own, so that
    every seed refreshes the same number of buckets. Returns the transcripts
    now and the changed conversation ids by kind."""
    base = documents(BASE_SEED, N_DOCS)
    rng = np.random.default_rng([seed, 1])
    used: set[int] = set()

    def one_per_bucket(doc_ids, k: int) -> list[int]:
        """Positions of the first k docs whose buckets are still free."""
        out = []
        for i, d in enumerate(doc_ids):
            b = bucket(conv_ids([d])[0])
            if b not in used:
                used.add(b)
                out.append(i)
                if len(out) == k:
                    return out
        raise ValueError("not enough free buckets")

    order = rng.permutation(len(base))
    picked = order[one_per_bucket(base.doc_id.to_numpy()[order], N_EDIT + N_DELETE)]
    edit, delete = picked[:N_EDIT], picked[N_EDIT:]
    now = base.copy()
    now.loc[edit, "text"] = [_text(rng) for _ in edit]
    now = now.drop(index=delete)
    candidates = documents(int(rng.integers(1 << 31)), 4 * N_BUCKETS, exclude=base.doc_id)
    added = candidates.iloc[one_per_bucket(candidates.doc_id, N_ADD)]
    now = pd.concat([now, added], ignore_index=True)
    changed = {
        "edited": conv_ids(base.doc_id.iloc[edit]),
        "deleted": conv_ids(base.doc_id.iloc[delete]),
        "added": conv_ids(added.doc_id),
    }
    return transcripts(now), changed


def conv_ids(doc_ids) -> list[str]:
    return sorted(f"conv-{int(d):06d}" for d in doc_ids)


def shape(trans: pd.DataFrame) -> dict[str, int]:
    per_conv = trans.groupby("conv_id").size()
    return {
        "turns": int(len(trans)),
        "conversations": int(len(per_conv)),
        "longest_conversation": int(per_conv.max()),
    }


def digest(df: pd.DataFrame) -> str:
    """Content digest of a frame, independent of file encoding."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]


def sample_conversations(conv: list[str], seed: int, share: float = 0.02) -> list[str]:
    rng = np.random.default_rng([seed, 2])
    k = max(1, round(len(conv) * share))
    return sorted(rng.choice(sorted(conv), k, replace=False).tolist())


# --- Spark's xxhash64 (XXH64, seed 42), for the stable bucket of a conv id ---

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Unsigned XXH64 of `data` (Spark's `xxhash64` on a string column)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = _merge(h, lane)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _round(0, k), 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ (k * _P1 & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def bucket(conv_id: str) -> int:
    # pmod(xxhash64, 32): 32 divides 2**64, so the unsigned residue is it
    return xxhash64(conv_id.encode()) % N_BUCKETS
