"""Similarity search over an embedding column.

Tiers, matching how a 100 TB deployment would actually escalate:

1. ``blocked_cosine_pairs`` (here) — EXACT all-pairs cosine >=
   threshold as a distributed block-matrix self-join: no driver-side
   collect, no cartesian product in the plan, bounded executor memory
   (each task holds two ~n/B-row blocks and does one BLAS matmul).
   Inherently O(n^2) compute — the exact operator, distributed; the
   approximate tiers below are the sub-quadratic scale paths.
2. brute-force top-k (queries.py `ann_cosine_topk`, oracle-checked) —
   broadcast query side x full scan; the ANN correctness baseline.
3. ``ann_lsh_bucketed`` (queries.py) — random-hyperplane buckets;
   pairs only form within a bucket. ``hyperplane_lsh_pairs`` (here) is
   the OR-amplified form: T independent hyperplane tables, a pair is a
   candidate if it collides in AT LEAST ONE table — recall
   1-(1-p^b)^T instead of a single table's p^b, still with no
   all-pairs shuffle.
4. ``ivf_topk`` (here) — IVF: a coarse quantizer (deterministic
   centroid sample + one Lloyd refinement) partitions vectors into
   nlist inverted lists; each query probes its ``nprobe`` nearest
   lists and brute-forces only those. The Spark shape: centroids are
   a broadcast matrix (tiny), assignment is one mapInPandas matmul,
   the probe join is an equi-join on list id — no all-pairs shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imageduplicatefinder_spark.operators.tiles import block_pair_tiles


def blocked_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    out_a: str = "vec_a",
    out_b: str = "vec_b",
    partition_col: str | None = None,
) -> DataFrame:
    """Exact pairs with cosine >= threshold, distributed block-matrix
    form: a ``block_pair_tiles`` self-join (operators/tiles.py, which
    holds the pair-uniqueness invariant) whose every tile of the
    similarity matrix is a single float64 BLAS matmul.
    Zero-norm vectors produce NaN cosine and fail the threshold (same
    semantics as a null from ``try_divide``).

    Compute is O(n^2/2) multiply-adds spread over B(B+1)/2 independent
    tasks — pick ``n_blocks`` ~ sqrt(2 x cores) so every core gets a
    tile.
    Output: (out_a, out_b, cosine_milli) with out_a < out_b.

    Cross-engine caveat: BLAS uses pairwise float64 summation while a
    SQL oracle folds sequentially, so a cosine landing within a few
    ulps of the threshold or of a .001 milli boundary can round
    differently across engines. The operator's exactness is therefore
    property-tested against an in-process brute force
    (tests/test_similarity.py) — the SQL parity check is an additional
    signal, not the definition.

    ``partition_col``: when given, pairs only form WITHIN equal values
    of that column (the block-matrix runs independently per partition
    value) — the SemDeDup within-cluster mode.
    """
    part = [F.col(partition_col).alias("_part")] if partition_col else []
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"), *part
    )

    def kernel(pdf, a_idx, b_idx, diag):
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["_vec"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0.0] = np.nan
        a = mat[a_idx]
        b = a if diag else mat[b_idx]
        with np.errstate(invalid="ignore"):
            cos = (a @ b.T) / np.outer(norms[a_idx], norms[b_idx])
            mask = cos >= threshold
        if diag:
            mask &= ids[:, None] < ids[None, :]
        ai, bi = np.nonzero(mask)
        xa, xb = ids[a_idx][ai], ids[b_idx][bi]
        return pd.DataFrame(
            {
                out_a: np.minimum(xa, xb),
                out_b: np.maximum(xa, xb),
                "cosine_milli": np.floor(cos[ai, bi] * 1000).astype(np.int64),
            }
        )

    return block_pair_tiles(
        base, "_id", n_blocks, kernel,
        f"{out_a} long, {out_b} long, cosine_milli long",
        partition_col="_part" if partition_col else None,
    )


def int_cosine_tile_pairs(
    df: DataFrame,
    dim: int,
    *,
    id_col: str = "doc_id",
    idx_col: str = "idxs",
    val_col: str = "ws",
    cos2_num: int = 81,
    cos2_den: int = 100,
    n_blocks: int = 8,
) -> DataFrame:
    """INTEGER-EXACT all-pairs cosine over sparse nonneg int vectors,
    as the same block-matrix tile self-join as ``blocked_cosine_pairs``
    — but with the threshold evaluated in exact integer arithmetic
    (``cos2_den * dot^2 >= cos2_num * |a|^2 * |b|^2``, no sqrt, no
    float boundary), so the output hash-matches a SQL oracle.

    This is the COMPACT-VOCAB leg of the TF-IDF soft-dedup dispatch:
    when the weighted vocabulary is small (<= a few thousand distinct
    tokens), every token is hot and ANY token-keyed candidate scheme —
    the brute self-join AND weighted prefix filtering — degenerates to
    df^2 fan-out, because prefixes collapse onto the same few tokens
    (measured at sf0.1: 12.39M candidate pairs from 5 000 docs over a
    31-token vocab, i.e. zero pruning). Densifying to int vectors and
    tiling turns the same n^2/2 work into B(B+1)/2 independent BLAS
    tiles emitting only survivors — no candidate-pair shuffle at all.
    For large vocabularies (distinct vectors, rare tokens) the
    weighted-prefix join is the right plan; queries.py documents the
    dispatch rule.

    Exactness envelope (round-6 shape — one HALF-precision matmul per
    tile instead of two full ones): the tile's only dense matmul is a
    float32 SGEMM that SCREENS candidate pairs, with a relative slack
    that provably covers the float32 accumulation error
    (``dim * 2^-22`` >= ~8x the worst-case sequential-sum bound of
    ``~2 * dim * 2^-24`` on D^2), so no qualifying pair can fail the
    screen. Every screened pair is then re-verified EXACTLY from the
    sparse integer rows (int64 merge-dot, arbitrary-precision threshold
    compare), which also yields the emitted ``dot``, ``n_shared`` and
    ``cos2_permille`` — the shared-count matrix that used to cost a
    second full matmul per tile is now computed only for survivors.
    All arithmetic below ``max_val^2 * dim < 2^63`` is exact (int64
    accumulation cannot wrap below the dot bound); past 2^63 the
    operator raises rather than wrap silently — rescale the weights or
    use the weighted-prefix join. Norms are exact int64 row sums. The
    screen can only over-select (slack direction), never drop: output
    is IDENTICAL to the float64/bigint round-5 kernel and to the brute
    form (pytest pins three-way equality).

    Input: one row per vector, sparse as parallel arrays ``idx_col``
    (int positions < dim) / ``val_col`` (nonnegative int64 weights,
    ascending ``idx_col`` — the builders emit array_sort'ed structs).
    Output: (src, dst, n_shared, dot, cos2_permille), src < dst.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(idx_col).alias("_idx"),
        F.col(val_col).alias("_val"),
    )
    num, den = int(cos2_num), int(cos2_den)

    # screen slack: worst-case relative error of the float32 SGEMM dot
    # is ~1.01 * dim * 2^-24 (sequential accumulation + input rounding
    # of weights past 2^24); the sqrt-threshold side adds a few 2^-24
    # (sqrt + two multiplies in float32). dim * 2^-22 is >= ~8x that
    # bound, so the screen can only pass EXTRA near-boundary pairs to
    # the exact re-verify, never reject a qualifying one.
    slack = max(1e-9, float(dim) * 2.0**-22)

    def _densify32(pdf: pd.DataFrame) -> np.ndarray:
        mat = np.zeros((len(pdf), dim), dtype=np.float32)
        lens = pdf["_idx"].str.len().to_numpy()
        if lens.sum():
            rows = np.repeat(np.arange(len(pdf)), lens)
            cols = np.concatenate(pdf["_idx"].to_list())
            vals = np.concatenate(pdf["_val"].to_list())
            mat[rows, cols.astype(np.int64)] = vals
        return mat

    def kernel(pdf, a_sel, b_sel, diag):
        out_cols = ["src", "dst", "n_shared", "dot", "cos2_permille"]
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        idx_rows = [np.asarray(v, dtype=np.int64) for v in pdf["_idx"]]
        val_rows = [np.asarray(v, dtype=np.int64) for v in pdf["_val"]]
        mat = _densify32(pdf)
        if not len(a_sel) or not len(b_sel):
            return pd.DataFrame(columns=out_cols)
        max_val = max((int(v.max()) for v in val_rows if v.size), default=0)
        dot_bound = max_val * max_val * dim  # Python ints, no overflow
        if dot_bound >= 2**63:
            raise ValueError(
                f"int_cosine_tile_pairs: max weight {max_val} with dim "
                f"{dim} puts the dot bound at {dot_bound} >= 2^63 — the "
                "int64 dot accumulation would wrap silently. Rescale the "
                "integer weights or use the weighted-prefix join."
            )
        # exact int64 norms from the sparse rows (bounded by dot_bound)
        n2 = np.array(
            [int((v * v).sum()) if v.size else 0 for v in val_rows],
            dtype=np.int64,
        )
        n2a, n2b = n2[a_sel], n2[b_sel]
        # ONE float32 SGEMM per tile, and the screen is a single
        # float32 compare against a rank-1 threshold matrix:
        # den*dot^2 >= num*n2a*n2b  <=>  dot >= sqrt(num/den)
        # * sqrt(n2a) * sqrt(n2b) (both sides nonnegative), so instead
        # of casting D to float64 and materializing D^2 plus a float64
        # outer product (~5 full passes over the tile, the measured
        # wall of the round-5 kernel), precompute the two sqrt vectors
        # with the slack folded in and touch the tile twice (threshold
        # product + compare).
        D = mat[a_sel] @ mat[b_sel].T
        root = np.float32(np.sqrt(num / den) * (1.0 - slack))
        sa = (np.sqrt(n2a.astype(np.float64)) * root).astype(np.float32)
        sb = np.sqrt(n2b.astype(np.float64)).astype(np.float32)
        ai, bi = np.nonzero(D >= sa[:, None] * sb[None, :])
        if diag:
            keep = ids[ai] < ids[bi]
            ai, bi = ai[keep], bi[keep]
        rows = []
        for i, j in zip(ai.tolist(), bi.tolist()):
            ra, rb = a_sel[i], b_sel[j]
            # exact sparse merge-dot (idx arrays are distinct per row)
            common, ia, ib = np.intersect1d(
                idx_rows[ra], idx_rows[rb],
                assume_unique=True, return_indices=True,
            )
            dot = int((val_rows[ra][ia] * val_rows[rb][ib]).sum())
            na2, nb2 = int(n2a[i]), int(n2b[j])
            if den * dot * dot >= num * na2 * nb2:
                a, b = int(ids[ra]), int(ids[rb])
                if a > b:
                    a, b = b, a
                rows.append(
                    (a, b, int(common.size), dot,
                     (1000 * dot * dot) // (na2 * nb2))
                )
        return pd.DataFrame(rows, columns=out_cols)

    return block_pair_tiles(
        base, "_id", n_blocks, kernel,
        "src long, dst long, n_shared long, dot long, cos2_permille long",
    )


def hyperplane_tables(
    n_tables: int, bits: int, dim: int, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic random hyperplanes for ``hyperplane_lsh_pairs``:
    n_tables x bits planes of ``dim`` Gaussian components. A fixed seed
    makes the whole candidate set reproducible (and SQL-expressible by
    inlining the constants)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, bits, dim)).tolist()


def _fold_dot(a, b):
    """Sequential-fold dot product (JVM-side): matches the evaluation
    order of a SQL list_sum, so sign decisions are bit-stable across
    engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    planes_tables: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_a: str = "vec_a",
    out_b: str = "vec_b",
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """OR-amplified hyperplane LSH candidate pairs: for each of T
    independent tables, a row's bucket is the sign-bit vector of its
    dot products with that table's planes; the output is the UNION of
    within-bucket pairs over all tables (id_a < id_b, distinct).

    Recall for a pair at angle θ: per-table collision (1-θ/π)^bits,
    amplified to 1-(1-(1-θ/π)^bits)^T — tune bits down / tables up for
    recall, the reverse for candidate volume. The plan is an equi-join
    on (table_id, bucket): no all-pairs shuffle, and ``distinct``
    dedups cross-table repeats before any downstream verify.

    ``max_bucket_size``: buckets larger than this are down-sampled by
    the same deterministic salted-threshold scheme as the MinHash band
    cap (operators/lsh.py capped_bands) — a degenerate bucket (e.g.
    all-zero embeddings landing at bucket 0 of every table) would
    otherwise blow up one join key quadratically. None disables the
    cap (exact candidate semantics, e.g. for oracle-checked queries).
    """
    sig_cols = []
    for t, planes in enumerate(planes_tables):
        bits = [
            F.when(
                _fold_dot(
                    F.col(vec_col), F.array(*[F.lit(v) for v in p])
                )
                >= 0,
                1,
            ).otherwise(0)
            for p in planes
        ]
        bucket = sum(
            [b * F.lit(1 << i) for i, b in enumerate(bits)], start=F.lit(0)
        )
        sig_cols.append(bucket.alias(f"_b{t}"))
    base = df.select(F.col(id_col).alias("_id"), *sig_cols)
    buckets = base.select(
        "_id",
        F.posexplode(
            F.array(*[F.col(f"_b{t}") for t in range(len(planes_tables))])
        ).alias("table_id", "bucket"),
    )
    # one bucket computation, consumed by both join sides
    buckets = buckets.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        sizes = buckets.groupBy("table_id", "bucket").agg(
            F.count("*").alias("_bsz")
        )
        hot = sizes.filter(F.col("_bsz") > max_bucket_size)
        buckets = (
            buckets.join(F.broadcast(hot), on=["table_id", "bucket"],
                         how="left")
            .filter(
                F.col("_bsz").isNull()
                | (
                    F.pmod(F.xxhash64("_id", "table_id", "bucket"),
                           F.col("_bsz"))
                    < F.lit(max_bucket_size)
                )
            )
            .drop("_bsz")
        )
    a = buckets.select("table_id", "bucket", F.col("_id").alias(out_a))
    b = buckets.select("table_id", "bucket", F.col("_id").alias(out_b))
    return (
        a.join(b, on=["table_id", "bucket"])
        .filter(F.col(out_a) < F.col(out_b))
        .select(out_a, out_b)
        .distinct()
    )


def train_centroids(
    embeddings: DataFrame,
    nlist: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic coarse quantizer: seeded sample as initial
    centroids + one Lloyd step over a bounded sample (the quantizer
    trains on a sample even at 100 TB — standard IVF practice).

    The sample is ordered by ``xxhash64(id)`` before the limit — a
    bare ``limit().collect()`` picks whichever partitions answer
    first, which is stable in local mode but not on a real cluster;
    the hash order is a cluster-safe pseudo-random draw."""
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(4096)
        .collect()
    )
    if not sample:
        raise ValueError("train_centroids: embeddings table is empty")
    mat = np.array([r[1] for r in sample], dtype=np.float64)
    # fewer vectors than requested lists: every vector is its own list
    nlist = min(nlist, mat.shape[0])
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(mat.shape[0], size=nlist, replace=False)]
    # one Lloyd refinement
    d = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    for j in range(nlist):
        members = mat[assign == j]
        if members.shape[0]:
            centroids[j] = members.mean(axis=0)
    return centroids


def assign_lists(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, list_id, embedding): nearest-centroid assignment via one
    broadcast matmul per Arrow batch."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        c_sq = (cents * cents).sum(axis=1)
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant per row
            scores = -2.0 * (mat @ cents.T) + c_sq[None, :]
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["list_id"] = scores.argmin(axis=1).astype(np.int32)
            yield pdf

    schema = f"{id_col} long, {vec_col} array<float>, list_id int"
    return embeddings.select(id_col, vec_col).mapInPandas(run, schema)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest inverted lists
    per query, brute-force cosine within them.

    Output: (query_id, rank, neighbor_id, cosine_milli).
    """
    centroids = train_centroids(embeddings, nlist=nlist, seed=seed,
                                id_col=id_col, vec_col=vec_col)
    # the trained quantizer may have fewer lists than requested (tiny
    # table); probing more lists than exist would crash the repeat/ravel
    nprobe = min(nprobe, centroids.shape[0])
    listed = assign_lists(embeddings, centroids, id_col, vec_col)

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        c_sq = (cents * cents).sum(axis=1)
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            scores = -2.0 * (mat @ cents.T) + c_sq[None, :]
            near = np.argsort(scores, axis=1)[:, :nprobe].astype(np.int32)
            out = pdf.loc[pdf.index.repeat(nprobe), [id_col, vec_col]].copy()
            out["list_id"] = near.ravel()
            yield out

    q_lists = queries.select(id_col, vec_col).mapInPandas(
        probes, f"{id_col} long, {vec_col} array<float>, list_id int"
    ).withColumnsRenamed({id_col: "query_id", vec_col: "qe"})

    # norm folds run once per probe row / per listed row before the
    # join (identical fold expression -> bit-identical value), not once
    # per candidate pair — same fix as the catalog ANN queries
    def _norm(col: str) -> F.Column:
        return F.sqrt(F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x))

    cand = q_lists.withColumn("qn", _norm("qe")).join(
        listed.withColumnsRenamed({id_col: "neighbor_id", vec_col: "ne"})
        .withColumn("nn", _norm("ne")),
        on="list_id",
    ).filter(F.col("query_id") != F.col("neighbor_id"))

    dot = F.aggregate(
        F.zip_with("qe", "ne", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    ranked = (
        cand.withColumn("cos", F.try_divide(dot, F.col("qn") * F.col("nn")))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        "query_id", "rank", "neighbor_id",
        F.floor(F.col("cos") * 1000).cast("long").alias("cosine_milli"),
    )


def semantic_dedup_keeper(
    embeddings: DataFrame,
    threshold_milli: int = 950,
    nlist: int = 16,
    seed: int = 42,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    the embedding space with the IVF coarse quantizer, then WITHIN each
    cluster group points whose cosine >= threshold and keep only the
    smallest id of each group — the sub-quadratic semantic-dedup tier
    (cosine pairs are only computed inside a cluster, never across).

    Output: (id, list_id, action KEEP|DELETE, keeper_id) for EVERY
    input row — singletons and sub-threshold points KEEP themselves.

    Recall caveat, inherent to the method: a near-dup pair split across
    two k-means cells is NOT examined (the paper accepts this; raise
    ``nlist`` granularity or fall back to ``blocked_cosine_pairs`` for
    the exact tier). Precision within a cluster is exact — real BLAS
    cosine, no sketch.

    100 TB shape: centroids train on a bounded cluster-deterministic
    sample (broadcast matrix), assignment is one mapInPandas matmul
    pass, within-cluster pairs run the partitioned block-matrix join
    keyed by (list_id, block_i, block_j) — executor memory stays
    bounded by the tile size even for a mega-cluster — and the dup
    groups close under connected components (a chain a~b~c collapses
    to ONE keeper even when cos(a,c) < t, matching the pipeline's
    cluster semantics)."""
    from imageduplicatefinder_spark.operators.components import (
        connected_components,
    )

    cents = train_centroids(
        embeddings, nlist=nlist, seed=seed, id_col=id_col, vec_col=vec_col
    )
    assigned = assign_lists(
        embeddings, cents, id_col=id_col, vec_col=vec_col
    )
    pairs = blocked_cosine_pairs(
        assigned,
        threshold_milli / 1000.0,
        id_col=id_col,
        vec_col=vec_col,
        n_blocks=n_blocks,
        partition_col="list_id",
    )
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    comp = connected_components(edges)  # (doc_id, cluster_id), min-id label
    return (
        assigned.select(id_col, "list_id")
        .join(
            comp.withColumnsRenamed(
                {"doc_id": id_col, "cluster_id": "keeper_id"}
            ),
            on=id_col,
            how="left",
        )
        .select(
            id_col,
            "list_id",
            F.when(
                F.col("keeper_id").isNull()
                | (F.col("keeper_id") == F.col(id_col)),
                F.lit("KEEP"),
            )
            .otherwise(F.lit("DELETE"))
            .alias("action"),
            F.coalesce("keeper_id", F.col(id_col)).alias("keeper_id"),
        )
    )
