"""Block-pair tile self-join: the one all-pairs shape behind the exact
cosine tiers (operators/similarity.py) and the Hamming tile kernels
(operators/hamming_lsh.py, standing in for the reference's all-pairs
``withinHamming`` BK-tree walk, ref: index/BKTreeIndex.java:34-50).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def block_pair_tiles(
    df: DataFrame,
    key: str,
    n_blocks: int,
    kernel,
    schema: str,
    partition_col: str | None = None,
) -> DataFrame:
    """Run ``kernel`` once per unordered block pair of ``df``'s rows.

    Each row gets block ``_blk = pmod(xxhash64(key), n_blocks)`` and is
    replicated into the groups ``(_gi, _gj) = (least, greatest)(_blk, p)``
    for p in 0..n_blocks-1, grouped by ``partition_col`` (when given)
    plus ``(_gi, _gj)``: no driver collect and no cartesian product in
    the plan. Shuffle volume is n_blocks x the input; compute spreads
    over B(B+1)/2 independent tasks per partition value.

    Pair-uniqueness invariant: a same-block pair {a, b} exists only in
    group (i, i); a cross-block pair with blocks i < j only in group
    (i, j), as a cross product of its two sides; rows with different
    ``partition_col`` values never share a group. A kernel that emits
    from ``a_idx x b_idx`` (one orientation per pair on a diagonal
    tile) therefore emits every unordered pair exactly once — no
    distinct() pass and no cross-tile dedup.

    ``kernel(pdf, a_idx, b_idx, diag)`` gets the group's rows (``df``'s
    columns plus ``_blk``, ``_gi``, ``_gj``) and positional index arrays
    into them: on a diagonal tile ``diag`` is True and both are
    ``arange(len(pdf))`` (the same array object), so the kernel keeps
    one orientation per pair itself; otherwise ``a_idx`` are the rows
    of block ``_gi`` and ``b_idx`` those of block ``_gj``. It returns
    a pandas frame matching ``schema``.
    """
    blocked = df.withColumn("_blk", F.pmod(F.xxhash64(key), F.lit(n_blocks)))
    rep = blocked.withColumn(
        "_p", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    ).select(
        *blocked.columns,
        F.least("_blk", "_p").alias("_gi"),
        F.greatest("_blk", "_p").alias("_gj"),
    )

    def tile(group: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(group[-2]), int(group[-1])
        if gi == gj:
            a_idx = b_idx = np.arange(len(pdf))
        else:
            left = pdf["_blk"].to_numpy() == gi
            a_idx, b_idx = np.nonzero(left)[0], np.nonzero(~left)[0]
        return kernel(pdf, a_idx, b_idx, gi == gj)

    group_cols = ([partition_col] if partition_col else []) + ["_gi", "_gj"]
    return rep.groupBy(*group_cols).applyInPandas(tile, schema)
