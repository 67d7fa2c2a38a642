"""Contract: the batched fingerprint kernel must agree exactly with the
single-row reference kernels (shingle_hashes_numpy / minhash_numpy +
band_hashes_numpy / simhash_numpy) on every row, including degenerate
ones."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.functions.fingerprints import (
    _fingerprint_batch,
    _perm_params,
    _token_hashes,
    band_hashes_numpy,
    minhash_numpy,
    shingle_hashes_numpy,
    simhash_numpy,
    tokenize_series,
)

CFG = DedupConfig()
KEYS = _perm_params(CFG.num_perm, CFG.seed)


def _check(contents: list[str]) -> None:
    batch = _fingerprint_batch(pd.Series(contents), CFG, KEYS)
    toks = tokenize_series(pd.Series(contents), CFG.tokenizer)
    for i, tokens in enumerate(toks):
        sh = shingle_hashes_numpy(tokens, CFG.shingle_k)
        assert batch["shingles"][i] == sh.astype(np.int64).tolist(), f"row {i} shingles"
        bands = band_hashes_numpy(minhash_numpy(sh, KEYS)[None, :],
                                  CFG.lsh_bands, CFG.lsh_rows)[0]
        assert batch["bands"][i] == bands.tolist(), f"row {i} bands"
        assert batch["simhash"][i] == int(simhash_numpy(_token_hashes(tokens))), (
            f"row {i} simhash"
        )
        assert batch["n_tokens"][i] == len(tokens)


def test_batch_matches_single_row_fixed():
    _check(
        [
            "the quick brown fox jumps over the lazy dog",
            "",                       # empty
            "one",                    # shorter than k
            "two tokens",             # shorter than k
            "a a a a a a",            # all-identical (degenerate)
            "x y z",                  # exactly k
            "the quick brown fox jumps over the lazy dog",  # duplicate row
            " ",                      # whitespace only
        ]
    )


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab cd\n\tXY_9", min_size=0, max_size=120),
        min_size=1,
        max_size=12,
    )
)
def test_batch_matches_single_row_hypothesis(contents):
    _check(contents)


GRAD_CFG = DedupConfig(sketch="gradsign")


def _check_gradsign(contents: list[str]) -> None:
    from imageduplicatefinder_spark.functions.fingerprints import gradsign_numpy

    batch = _fingerprint_batch(pd.Series(contents), GRAD_CFG, KEYS)
    toks = tokenize_series(pd.Series(contents), GRAD_CFG.tokenizer)
    for i, tokens in enumerate(toks):
        assert batch["simhash"][i] == int(gradsign_numpy(_token_hashes(tokens))), (
            f"row {i} gradsign"
        )


def test_gradsign_batch_matches_single_row_fixed():
    _check_gradsign(
        [
            "the quick brown fox jumps over the lazy dog",
            "",
            "one",
            "a a a a a a",
            "x " * 200,
            "alpha beta gamma delta epsilon zeta eta theta " * 4,
        ]
    )


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab cd\n\tXY_9", min_size=0, max_size=120),
        min_size=1,
        max_size=12,
    )
)
def test_gradsign_batch_matches_single_row_hypothesis(contents):
    _check_gradsign(contents)
