"""Unit tests for operators/prefix_join.py: the EXACTNESS property.

prefix_candidates must be a SUPERSET of every pair satisfying the
verify rule (jaccard >= t_j OR containment >= t_c) — the module
docstring's two-leg guarantee — including at the exact threshold
boundaries, on degenerate docs, and regardless of which side is
smaller. Ground truth is computed in plain Python over the same
shingle sets. The pipeline-level recall test covers realistic corpora;
these pin the boundary arithmetic (epsilon-guarded ceil, PPJoin length
filter) where an off-by-one would silently lose recall.
"""

from __future__ import annotations

import itertools
from fractions import Fraction

import pytest

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.operators.prefix_join import (
    doc_tokens,
    exact_candidates,
    jaccard_prefix_pairs,
    prefix_candidates,
)


def _sig_df(spark, docs: dict[int, list[int]]):
    rows = [(i, sh) for i, sh in docs.items()]
    return spark.createDataFrame(rows, "doc_id long, shingles array<long>")


def _qualifying(docs: dict[int, list[int]], cfg: DedupConfig):
    out = set()
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = set(docs[a]), set(docs[b])
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        jac = inter / len(sa | sb)
        cont = inter / min(len(sa), len(sb))
        if (
            jac >= cfg.jaccard_threshold
            or cont >= cfg.containment_threshold
        ):
            out.add((a, b))
    return out


CASES = {
    "boundary_jaccard": {
        # |A∩B|=2, |A∪B|=4 -> jaccard exactly 0.5 (the threshold)
        1: [10, 11, 12],
        2: [10, 11, 13],
        3: [90, 91, 92],  # disjoint decoy
    },
    "boundary_containment": {
        # small fully minus one: 4/5 = 0.8 containment exactly
        1: [1, 2, 3, 4, 5],
        2: [1, 2, 3, 4, 99, 98, 97, 96, 95, 94],
        3: [50, 51],
    },
    "identical_and_subset": {
        1: [7, 8, 9],
        2: [7, 8, 9],          # identical (jaccard 1.0)
        3: [7, 8, 9, 10, 11],  # superset (containment 1.0 of doc 1)
        4: [600],
    },
    "degenerate": {
        1: [],                # empty shingle set
        2: [42],              # single shingle
        3: [42],              # single shingle, identical
        4: [43],
    },
    "below_both_thresholds": {
        1: [1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
        2: [1, 2, 3, 104, 105, 106, 107, 108, 109, 110],  # j=0.18, c=0.3
    },
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_prefix_candidates_superset_of_qualifying(spark, name):
    docs = CASES[name]
    cfg = DedupConfig()
    got = {
        (r.src, r.dst)
        for r in prefix_candidates(_sig_df(spark, docs), cfg).collect()
    }
    need = _qualifying(docs, cfg)
    assert need <= got, f"{name}: missing {need - got}"
    # and never wider than the exhaustive inverted-index superset
    allp = {
        (r.src, r.dst)
        for r in exact_candidates(_sig_df(spark, docs)).collect()
    }
    assert got <= allp, f"{name}: fabricated {got - allp}"


def test_prefix_candidates_tight_thresholds(spark):
    """thresholds near 1.0: only identical sets must qualify, and the
    prefix shrinks to ~1 shingle per doc — the regime where an
    off-by-one in the epsilon-guarded ceil would drop the last key."""
    docs = {1: [1, 2, 3, 4], 2: [1, 2, 3, 4], 3: [1, 2, 3, 5], 4: [9]}
    cfg = DedupConfig(jaccard_threshold=0.99, containment_threshold=0.99)
    got = {
        (r.src, r.dst)
        for r in prefix_candidates(_sig_df(spark, docs), cfg).collect()
    }
    assert (1, 2) in got  # identical pair must survive


@pytest.mark.parametrize("threshold,n_shared", [(0.55, 55), (0.07, 7)])
def test_prefix_candidates_containment_on_float_boundary(
    spark, threshold, n_shared
):
    """Containment exactly on a threshold whose double product rounds
    above the integer (0.55*100 = 55.00000000000001, 0.07*100 =
    7.000000000000001). A's 100 - n_shared df-1 shingles lead its
    rarest-first prefix, so a prefix one token too short holds no
    shared shingle. At jaccard_threshold 0.99 the Jaccard leg's length
    filter rules the pair out: only the containment leg can find it."""
    shared = list(range(1, n_shared + 1))
    docs = {
        1: shared + list(range(1000, 1000 + 100 - n_shared)),
        2: shared + list(range(2000, 2100)),
    }
    cfg = DedupConfig(jaccard_threshold=0.99,
                      containment_threshold=threshold)
    assert _qualifying(docs, cfg) == {(1, 2)}
    got = {
        (r.src, r.dst)
        for r in prefix_candidates(_sig_df(spark, docs), cfg).collect()
    }
    assert (1, 2) in got


# (A, B) set pairs for the shared Jaccard join, several sitting exactly
# on a threshold; each pair gets its own token range so document
# frequencies never mix across pairs. A's extra tokens have df 1, so
# they lead A's prefix — the order in which a prefix one token too
# short misses every shared token. In doubles 0.7*10 and 0.8*5 are
# exact; 0.55*100 is 55.00000000000001, the case the epsilon guards.
JACCARD_BOUNDARY = [
    ({1, 2, 3}, {1, 2, 4}),                        # J = 0.5
    (set(range(1, 6)), set(range(1, 5))),          # J = 0.8, n = 5
    (set(range(1, 10)), set(range(1, 9)) | {10}),  # J = 0.8, n = 9, 9
    (set(range(1, 11)), set(range(1, 8))),         # J = 0.7, n = 10
    (set(range(1, 101)), set(range(1, 56))),       # J = 0.55, n = 100
    (set(range(1, 10)), set(range(1, 8)) | {11}),  # J = 0.7, n = 9, 8
    ({7, 8, 9}, {7, 8, 9}),                        # identical
    ({42}, {42}),                                  # single token, identical
    ({43}, set()),                                 # single token vs empty set
]


@pytest.mark.parametrize("tok_type", ["long", "string"])
@pytest.mark.parametrize("threshold", [0.5, 0.55, 0.7, 0.8])
def test_jaccard_prefix_pairs_matches_brute_force(spark, threshold, tok_type):
    """jaccard_prefix_pairs (the join behind candidates="prefix",
    ngram_jaccard_prefix_pairs and the char-gram fallback) must return
    every pair with J >= t by exact rational arithmetic, only pairs that
    share a token, and both true set sizes — with the epsilon-guarded
    prefix length and length filter at pairs sitting exactly on t."""
    docs = {}
    for i, (a, b) in enumerate(JACCARD_BOUNDARY):
        docs[2 * i + 1] = {1000 * i + t for t in a}
        docs[2 * i + 2] = {1000 * i + t for t in b}
    conv = str if tok_type == "string" else int
    rows = [(d, conv(t)) for d, toks in docs.items() for t in toks]
    tokens = spark.createDataFrame(rows, f"doc_id long, tok {tok_type}")
    got = {
        tuple(r)
        for r in jaccard_prefix_pairs(doc_tokens(tokens), threshold).collect()
    }
    t = Fraction(str(threshold))
    need, sharing = set(), set()
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = docs[a], docs[b]
        if sa & sb:
            sharing.add((a, b, len(sa), len(sb)))
            if Fraction(len(sa & sb), len(sa | sb)) >= t:
                need.add((a, b, len(sa), len(sb)))
    assert need <= got, f"t={threshold}: missing {need - got}"
    assert got <= sharing, f"t={threshold}: fabricated {got - sharing}"
