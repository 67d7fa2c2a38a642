"""Contract of the shared block-pair tile join (operators/tiles.py): every
unordered key pair lands in exactly one tile, and no pair crosses a
partition value."""

from collections import Counter
from itertools import combinations

import numpy as np
import pandas as pd
import pytest

from imageduplicatefinder_spark.operators.tiles import block_pair_tiles

SCHEMA = "a long, b long, part_a long, part_b long, gi long, gj long"


@pytest.mark.parametrize("partition_col", [None, "part"])
@pytest.mark.parametrize("n_blocks", [1, 3, 8])
def test_every_pair_in_exactly_one_tile(spark, n_blocks, partition_col):
    parts = {k: k % 3 for k in range(45)}

    def _all_pairs(pdf, a_idx, b_idx, diag):
        """Emit every (a, b) the tile offers, one orientation per pair
        on a diagonal tile, tagged with the tile and each side's
        partition. Defined inside the test so the workers receive it
        by value."""
        keys = pdf["k"].to_numpy(dtype=np.int64)
        part = pdf["part"].to_numpy(dtype=np.int64)
        ai, bi = np.meshgrid(a_idx, b_idx, indexing="ij")
        ai, bi = ai.ravel(), bi.ravel()
        if diag:
            keep = ai < bi
            ai, bi = ai[keep], bi[keep]
        return pd.DataFrame({
            "a": keys[ai], "b": keys[bi],
            "part_a": part[ai], "part_b": part[bi],
            "gi": np.full(len(ai), int(pdf["_gi"].iat[0]), dtype=np.int64),
            "gj": np.full(len(ai), int(pdf["_gj"].iat[0]), dtype=np.int64),
        })

    df = spark.createDataFrame(list(parts.items()), "k long, part long")
    rows = block_pair_tiles(df, "k", n_blocks, _all_pairs, SCHEMA,
                            partition_col=partition_col).collect()
    got = Counter(frozenset((r.a, r.b)) for r in rows)
    want = {frozenset((a, b)) for a, b in combinations(parts, 2)
            if partition_col is None or parts[a] == parts[b]}
    assert set(got) == want
    assert all(c == 1 for c in got.values())
    assert all(r.gi <= r.gj < n_blocks for r in rows)
    if partition_col:
        assert all(r.part_a == r.part_b for r in rows)
