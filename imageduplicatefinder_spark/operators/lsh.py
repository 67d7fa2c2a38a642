"""LSH banding + candidate-pair generation.

Distributed replacement for the BK-tree radius query
(ref: src/main/java/index/BKTreeIndex.java:34-50 `withinHamming` — a
pointer-chasing DFS with triangle-inequality pruning, which has no
distributed analog). Banding turns the O(n^2) similarity self-join into
an equi-join: docs colliding in >=1 of b bands of r MinHash values are
candidates; P(candidate | jaccard=j) = 1 - (1 - j^r)^b.

Scale notes (north_rule: skew handled explicitly):
- band hashes arrive precomputed in the signatures' ``bands`` column
  (the fingerprint UDF), so banding is a posexplode — no Python in
  this stage at all;
- hot bands (empty files, license boilerplate) are capped at
  ``cfg.max_band_size`` members via a deterministic hash sample — a
  giant band would otherwise emit O(size^2) pairs on a single shuffle
  key. Exact duplicates never reach here (collapsed by the sha256
  pre-pass), so a capped band only loses candidates between
  *near*-identical boilerplate docs, and the pipeline checkpoints the
  capped-band stats (``band_stats``) so the drop is visible;
- the pair self-join is an equi-join on (band_id, band_hash) which AQE
  can split further if residual skew remains.

The cap and the self-join are written once, over any key columns
(``hot_keys`` -> ``kept_given_hot`` -> ``key_pairs``): the Hamming
pigeonhole key join (operators/hamming_lsh.py), the hyperplane bucket
join (operators/similarity.py) and the exhaustive shingle join
(operators/prefix_join.py ``exact_candidates``) use the same three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig


def band_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (doc_id, band_id, band_hash), one row per band: a
    posexplode of the ``bands`` column the fingerprint UDF precomputed
    (``band_hashes_numpy``), so every band table — pipeline, stream
    history, stream batch — carries one hash family and equi-joins
    against any other.

    Docs below ``cfg.min_tokens`` tokens are excluded (no meaningful
    shingles — the degenerate/solid-color analog,
    ref: src/test/java/hash/PHashDctTest.java:49-99).
    """
    return signatures.filter(F.col("n_tokens") >= cfg.min_tokens).select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    )


#: the equi-join key of the band table
BAND_KEY = ["band_id", "band_hash"]


def hot_keys(
    rows: DataFrame, keys: list[str], cap: int, size_col: str
) -> DataFrame:
    """The key groups over the cap — (*keys, size_col, capped=true).
    This is the durable drop-accounting table (the pipeline's
    ``band_stats``) AND the exact join input ``kept_given_hot`` needs,
    so a caller that materializes it first aggregates ``rows`` exactly
    once (measured: the stats-after-bands ordering re-ran this groupBy
    for 7.5 s of an 88 s run, BENCH.md "Band-stats fold"). ``rows`` is
    scanned here and again by ``kept_given_hot``: pass a materialized
    (checkpointed) table."""
    return (
        rows.groupBy(*keys)
        .agg(F.count("*").alias(size_col))
        .filter(F.col(size_col) > cap)
        .withColumn("capped", F.lit(True))
    )


def kept_given_hot(
    rows: DataFrame,
    hot: DataFrame,
    keys: list[str],
    member: str,
    cap: int,
    size_col: str,
) -> DataFrame:
    """Apply the hot-key cap given the ``hot_keys`` table — the one
    skew rule of every capped equi-key join (LSH bands, Hamming
    pigeonhole keys, hyperplane buckets).

    Members of a key group larger than ``cap`` are down-sampled by a
    deterministic hash threshold: keep iff
    ``pmod(xxhash64(member, *keys), size) < cap`` (expected kept ≈
    cap). This is the salting formulation of the cap: no per-group
    sort, no single-reducer window — a mega-key (license boilerplate at
    10^12-file scale) is filtered map-side, so the skewed key never
    serializes onto one task. Exact duplicates never reach the band
    join (the sha256 pre-pass collapsed them), so sampling there only
    thins candidates between near-identical boilerplate docs.

    Joining only the HOT set keeps the common case a map-side
    null-check — in realistic corpora the hot set is tiny
    (boilerplate), so AQE turns this into a broadcast join instead of a
    full sort-merge of the table against all sizes. Callers must keep
    the hot set somewhere durable (the pipeline's ``band_stats``
    checkpoint, the stream's ``<edges_out>_band_stats``,
    ``hamming_key_stats``) so the drop is visible.

    Output: (member, *keys)."""
    salted = rows.join(hot.select(*keys, size_col), on=keys, how="left")
    return salted.filter(
        F.col(size_col).isNull()
        | (
            F.pmod(F.xxhash64(member, *keys), F.col(size_col))
            < F.lit(cap)
        )
    ).select(member, *keys)


def key_pairs(
    rows: DataFrame, keys: list[str], member: str, a: str = "src",
    b: str = "dst",
) -> DataFrame:
    """Self-join on ``keys`` -> distinct (a, b) member pairs, a < b.

    The a < b predicate both dedups the symmetric pair and removes
    self-pairs — the Spark-native form of the reference's "don't return
    the probe itself" semantics.

    ``rows`` should be MATERIALIZED (checkpointed): a self-join scans
    its input twice, so an unmaterialized lineage here would recompute
    the whole upstream chain (fingerprint -> band, sketch -> key) twice.
    """
    left = rows.select(*keys, F.col(member).alias(a))
    right = rows.select(*keys, F.col(member).alias(b))
    return (
        left.join(right, on=keys)
        .filter(F.col(a) < F.col(b))
        .select(a, b)
        .distinct()
    )


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Cap hot bands then self-join. Convenience form for small inputs
    that discards the hot-band stats; the pipeline checkpoints them and
    the kept band table (see ``key_pairs``)."""
    bands = bands.localCheckpoint(eager=False)  # scanned twice below
    cap = cfg.max_band_size
    hot = hot_keys(bands, BAND_KEY, cap, "band_size")
    return key_pairs(
        kept_given_hot(bands, hot, BAND_KEY, "doc_id", cap, "band_size"),
        BAND_KEY, "doc_id",
    )
