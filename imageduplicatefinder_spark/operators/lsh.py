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


def hot_band_stats(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The bands over the cap — (band_id, band_hash, band_size,
    capped=true). This is the durable drop-accounting table AND the
    exact join input ``kept_bands_given_hot`` needs, so a caller that
    materializes it first aggregates the band table exactly once
    (measured: the stats-after-bands ordering re-ran this groupBy for
    7.5 s of an 88 s run, BENCH.md "Band-stats fold"). ``bands`` is
    scanned here and again by ``kept_bands_given_hot``: pass a
    materialized (checkpointed) band table."""
    return (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("band_size"))
        .filter(F.col("band_size") > cfg.max_band_size)
        .withColumn("capped", F.lit(True))
    )


def kept_bands_given_hot(
    bands: DataFrame, hot: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Apply the hot-band cap given the ``hot_band_stats`` table.

    Members of a band larger than ``max_band_size`` are down-sampled by
    a deterministic hash threshold: keep iff
    ``pmod(xxhash64(doc_id, band_id, band_hash), band_size) < cap``
    (expected kept ≈ cap). This is the salting formulation of the cap:
    no per-group sort, no single-reducer window — a mega-band (license
    boilerplate at 10^12-file scale) is filtered map-side, so the
    skewed key never serializes onto one task. Exact duplicates never
    reach here (the sha256 pre-pass collapsed them), so sampling only
    thins candidates between near-identical boilerplate docs.

    Joining only the HOT set keeps the common case a map-side
    null-check — in realistic corpora the hot set is tiny
    (boilerplate), so AQE turns this into a broadcast join instead of a
    full sort-merge of the band table against all sizes. Callers must
    keep the hot set somewhere durable (the pipeline's ``band_stats``
    checkpoint, the stream's ``<edges_out>_band_stats``) so the drop is
    visible."""
    salted = bands.join(
        hot.select("band_id", "band_hash", "band_size"),
        on=["band_id", "band_hash"],
        how="left",
    )
    return salted.filter(
        F.col("band_size").isNull()
        | (
            F.pmod(
                F.xxhash64("doc_id", "band_id", "band_hash"),
                F.col("band_size"),
            )
            < F.lit(cfg.max_band_size)
        )
    ).select("doc_id", "band_id", "band_hash")


def pairs_from_kept_bands(kept: DataFrame) -> DataFrame:
    """Self-join on (band_id, band_hash) -> distinct (src, dst), src < dst.

    The src < dst predicate both dedups the symmetric pair and removes
    self-pairs — the Spark-native form of the reference's "don't return
    the probe itself" semantics.

    ``kept`` should be a MATERIALIZED (checkpointed) band table: a
    self-join scans its input twice, so an unmaterialized lineage here
    would recompute the whole fingerprint->band chain twice.
    """
    left = kept.select("band_id", "band_hash", F.col("doc_id").alias("src"))
    right = kept.select("band_id", "band_hash", F.col("doc_id").alias("dst"))
    return (
        left.join(right, on=["band_id", "band_hash"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Cap hot bands then self-join. Convenience form for small inputs
    that discards the hot-band stats; the pipeline checkpoints them and
    the kept band table (see ``pairs_from_kept_bands``)."""
    bands = bands.localCheckpoint(eager=False)  # scanned twice below
    kept = kept_bands_given_hot(bands, hot_band_stats(bands, cfg), cfg)
    return pairs_from_kept_bands(kept)
