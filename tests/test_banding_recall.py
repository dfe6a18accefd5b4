"""Honesty check for the embedding near-dup banding claim: 2 bands x
4 bits of the 8-bit hyperplane signature must retain the overwhelming
majority of TRUE near-duplicate pairs (cosine >= 0.9, the operator's
design point), even though it prunes most borderline pairs.

Ground truth is planted: deterministic pseudo-random base vectors plus
small perturbations of each (cosine ~0.95-0.99 to their base).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from union_indexer_node_spark.pipelines.ann_lsh import query_bucket
from union_indexer_node_spark.queries.similarity import _ANN_PLANES

DIM = 64
N_BASE = 150


def _pseudo(seed: str, n: int) -> list[float]:
    return [
        int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16) / 2**32 - 0.5
        for i in range(n)
    ]


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_four_bit_bands_keep_true_near_dups():
    kept = 0
    total = 0
    for b in range(N_BASE):
        base = _unit(_pseudo(f"base{b}", DIM))
        noise = _pseudo(f"noise{b}", DIM)
        scale = 0.15  # cosine(base, base + 0.15*noise_unit) ~ 0.95-0.99
        pert = _unit([x + scale * y for x, y in zip(base, _unit(noise))])
        cos = sum(a * c for a, c in zip(base, pert))
        assert cos >= 0.9, f"planted pair {b} not a near-dup ({cos:.3f})"
        qa = query_bucket(base, _ANN_PLANES)
        qb = query_bucket(pert, _ANN_PLANES)
        total += 1
        # candidate iff SOME 4-bit band matches (2 bands of the 8-bit sig)
        if (qa & 0xF) == (qb & 0xF) or (qa >> 4) == (qb >> 4):
            kept += 1
    recall = kept / total
    assert recall >= 0.9, f"band recall on true near-dups {recall:.2f} < 0.9"


def test_four_bit_bands_prune_unrelated_pairs():
    """The flip side: unrelated (near-orthogonal) pairs should mostly
    NOT be candidates — that pruning is the point of banding."""
    buckets = [
        query_bucket(_unit(_pseudo(f"rand{i}", DIM)), _ANN_PLANES) for i in range(80)
    ]
    cand = 0
    total = 0
    for i in range(len(buckets)):
        for j in range(i + 1, len(buckets)):
            total += 1
            a, b = buckets[i], buckets[j]
            if (a & 0xF) == (b & 0xF) or (a >> 4) == (b >> 4):
                cand += 1
    # random 4-bit band match prob = 1-(15/16)^2... for random SIGNS the
    # per-bit agreement is ~0.5 => band match ~ 2*(1/16) ~ 0.12; allow slack
    assert cand / total < 0.3, f"banding keeps {cand/total:.2f} of random pairs"
