"""Exact-duplicate pre-pass: byte-identical content collapses first.

Distributed reformulation of the BK-tree's distance-0 node merging
(ref: src/main/java/index/BKTreeIndex.java:27 — equal hashes share one
node). Grouping by content sha256 before LSH means identical content
costs one LSH representative instead of an O(group^2) pair blowup —
essential at 10^12-file scale where exact copies dominate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rep_ids(signatures: DataFrame) -> DataFrame:
    """(sha256, rep_id): deterministic representative per content class
    = min doc_id of the sha256 group.

    groupBy rather than a window: a window over sha256 sorts each group
    on a single reducer, which dies on mega-groups (at 10^12 files a
    common blob — empty file, license text — can have hundreds of
    millions of copies); the aggregate gets map-side partial min for
    free and AQE splits any residual join skew.
    """
    return signatures.groupBy("sha256").agg(F.min("doc_id").alias("rep_id"))


def exact_groups(signatures: DataFrame) -> DataFrame:
    """(sha256, rep_id, doc_id): every doc mapped to its exact-dup
    representative (see ``rep_ids`` for the mega-group-safe shape)."""
    return signatures.select("sha256", "doc_id").join(rep_ids(signatures),
                                                      on="sha256")

