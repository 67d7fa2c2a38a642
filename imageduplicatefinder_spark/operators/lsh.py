"""LSH banding + candidate-pair generation.

Distributed replacement for the BK-tree radius query
(ref: src/main/java/index/BKTreeIndex.java:34-50 `withinHamming` — a
pointer-chasing DFS with triangle-inequality pruning, which has no
distributed analog). Banding turns the O(n^2) similarity self-join into
an equi-join: docs colliding in >=1 of b bands of r MinHash values are
candidates; P(candidate | jaccard=j) = 1 - (1 - j^r)^b.

Scale notes (north_rule: skew handled explicitly):
- band_hash is computed JVM-side (`xxhash64` over the band slice +
  band_id) — no Python in this stage at all;
- hot bands (empty files, license boilerplate) are capped at
  ``cfg.max_band_size`` members via a deterministic rank — a giant band
  would otherwise emit O(size^2) pairs on a single shuffle key. Exact
  duplicates never reach here (collapsed by the sha256 pre-pass), so a
  capped band only loses candidates between *near*-identical
  boilerplate docs, and the pipeline checkpoints the capped-band stats
  (``band_stats``) so the drop is visible;
- the pair self-join is an equi-join on (band_id, band_hash) which AQE
  can split further if residual skew remains.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.functions.fingerprints import band_hashes_numpy


def band_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (doc_id, band_id, band_hash), one row per band.

    When the fingerprint UDF precomputed per-band hashes (``bands``
    column), this is a pure posexplode; otherwise band hashes are
    derived from the ``minhash`` column with THE SAME numpy kernel the
    fingerprint UDF uses (``band_hashes_numpy`` via a pandas UDF) — the
    two paths MUST emit one hash family, because band tables from both
    are equi-joined against each other (e.g. incremental_dedup joins a
    minhash-only historical table against fresh UDF output; a second
    hash family would silently match nothing across the corpora).

    Docs below ``cfg.min_tokens`` tokens are excluded (no meaningful
    shingles — the degenerate/solid-color analog,
    ref: src/test/java/hash/PHashDctTest.java:49-99).
    """
    filtered = signatures.filter(F.col("n_tokens") >= cfg.min_tokens)
    if "bands" in signatures.columns:
        return filtered.select(
            "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
        )
    b, r = cfg.lsh_bands, cfg.lsh_rows

    @pandas_udf("array<long>")
    def bands_of(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for mh in batches:
            mat = np.array(list(mh), dtype=np.int64)
            if mat.size == 0:
                yield pd.Series([], dtype=object)
                continue
            out = band_hashes_numpy(mat, b, r)
            yield pd.Series([row.tolist() for row in out])

    return filtered.select(
        "doc_id", F.posexplode(bands_of(F.col("minhash"))).alias(
            "band_id", "band_hash"
        )
    )


def capped_bands(bands: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """Apply the hot-band cap via salted deterministic sampling.
    Returns (kept_bands, band_stats).

    Members of a band larger than ``max_band_size`` are down-sampled by
    a deterministic hash threshold: keep iff
    ``pmod(xxhash64(doc_id, band_id, band_hash), band_size) < cap``
    (expected kept ≈ cap). This is the salting formulation of the cap:
    no per-group sort, no single-reducer window — a mega-band
    (license boilerplate at 10^12-file scale) is filtered map-side
    after a broadcast-able size join, so the skewed key never
    serializes onto one task. Exact duplicates never reach here (the
    sha256 pre-pass collapsed them), so sampling only thins candidates
    between near-identical boilerplate docs.

    band_stats: (band_id, band_hash, band_size, capped:boolean) — the
    pipeline checkpoints the capped subset as its own ``band_stats``
    table so dropped candidates are visible, not silent; standalone
    callers must consume the returned stats themselves.
    """
    bands = bands.localCheckpoint(eager=False)  # scanned twice below
    sizes = bands.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("band_size")
    )
    stats = sizes.withColumn("capped", F.col("band_size") > cfg.max_band_size)
    hot = sizes.filter(F.col("band_size") > cfg.max_band_size)
    return kept_bands_given_hot(bands, hot, cfg), stats


def hot_band_stats(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Only the CAPPED subset of ``capped_bands``' stats — (band_id,
    band_hash, band_size, capped=true). This is the durable
    drop-accounting table AND the exact join input ``kept_bands_given_
    hot`` needs, so a pipeline that checkpoints it first aggregates the
    band table exactly once (measured: the stats-after-bands ordering
    re-ran this groupBy for 7.5 s of an 88 s run, BENCH.md "Band-stats
    fold")."""
    return (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("band_size"))
        .filter(F.col("band_size") > cfg.max_band_size)
        .withColumn("capped", F.lit(True))
    )


def kept_bands_given_hot(
    bands: DataFrame, hot: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Apply the hot-band salted cap given a PRECOMPUTED hot-band table
    (``hot_band_stats`` output or the over-cap subset of
    ``capped_bands``' stats). Joining only the HOT set keeps the common
    case a map-side null-check — in realistic corpora the hot set is
    tiny (boilerplate), so AQE turns this into a broadcast join instead
    of a full sort-merge of the band table against all sizes."""
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


def pairs_from_capped_bands(kept: DataFrame) -> DataFrame:
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
    """Cap hot bands then self-join. Convenience form for small inputs;
    the pipeline materializes the capped band table first (see
    ``pairs_from_capped_bands``)."""
    kept, _ = capped_bands(bands, cfg)
    return pairs_from_capped_bands(kept)
