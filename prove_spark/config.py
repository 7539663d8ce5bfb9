"""Pipeline configuration.

Knob values deliberately mirror the reference's config.yaml (batch sizes,
top-k, similarity threshold — /root/reference/config.yaml:28-37) so the
semantics line up; everything else is scale machinery the reference does not
have (buckets, salting).
"""

from __future__ import annotations

from dataclasses import dataclass


# sent_id encoding stride: sent_id = turn_idx * SENT_ID_STRIDE + 2*k.
# With max_turn_chars = 16384 a turn can hold at most ~8k sentences, so a
# 1e6 stride makes cross-turn collisions impossible (2*8192 << 1e6); the
# old 1000 stride collided for turns of >500 short sentences.
SENT_ID_STRIDE = 1_000_000


@dataclass(frozen=True)
class PipelineConfig:
    # Kernel execution engine for the deterministic model stand-ins:
    #   "jvm"   — built-in Spark expressions, whole-stage codegen, zero
    #             JVM↔Python Arrow round trips (default; the stand-ins are
    #             pure string/set algebra so Python buys nothing)
    #   "arrow" — mapInPandas / pandas_udf stages (the architecture real NN
    #             models need; kept golden-tested equal to "jvm")
    engine: str = "jvm"
    # Evidence selection (reference: config.yaml:33-37 → batch 256, top 5,
    # threshold 0.0; refs_html_to_evidences.py:59)
    top_k_evidence: int = 5
    similarity_threshold: float = 0.0
    # Sentence sliding window (reference: config.yaml:28-31, window=2,
    # join=' ' — refs_html_to_evidences.py:30-38)
    slide_window: int = 2
    slide_join: str = " "
    # Scale machinery (ours): number of conv_id hash buckets used for
    # checkpoint manifests + output layout, and salt fan-out for hot keys.
    n_buckets: int = 32
    salt_buckets: int = 8
    # Truncate pathological turn text before shuffles (spill control).
    max_turn_chars: int = 16384
    # Canonicalization fixpoint guard.
    max_cc_iterations: int = 20
    # NLI class order + below-threshold default distribution: when no
    # evidence passes the similarity threshold the claim defaults to NEI
    # (reference behavior: claim_entailment.py:67-68 with its class order).
    classes: tuple[str, ...] = ("SUPPORTS", "REFUTES", "NOT ENOUGH INFO")
    default_probs: tuple[float, ...] = (0.0, 0.0, 1.0)
    # Verdict for claims whose kernel inputs were unusable (the transcripts
    # analog of the reference's 'irretrievable'/'error' lane —
    # functions.py:383-398 counts it as a 4th proveScore class).
    error_class: str = "error"

    def __post_init__(self) -> None:
        if self.engine not in ("jvm", "arrow"):
            raise ValueError(
                f"engine must be 'jvm' or 'arrow', got {self.engine!r}"
            )


DEFAULT_CONFIG = PipelineConfig()
