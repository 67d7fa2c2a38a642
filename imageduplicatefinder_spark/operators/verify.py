"""Exact verification of LSH candidate pairs.

The reference verifies candidates with ``hamming(a, b) <= radius``
inside the BK-tree walk (ref: src/main/java/index/BKTreeIndex.java:42-43,
hash/Hamming.java:4-6). Here verification is a post-join filter over
the signatures' ``simhash`` and ``shingles`` columns:

- ``hamming``  = bit_count(simhash_a XOR simhash_b)            (64-bit)
- ``jaccard``  = exact shingle-set Jaccard |A ∩ B| / |A ∪ B|
- ``containment`` = |A ∩ B| / min(|A|,|B|) — catches the watermark
                 analog (base content embedded in a larger host file,
                 FIXTURES.md §3 `containment`), which plain Jaccard
                 misses because the size ratio caps it.

A pair is verified if jaccard >= threshold OR containment >=
containment_threshold, optionally OR hamming <= radius when
``cfg.use_simhash_verify`` (the reference's exact predicate — loose for
text payloads, see DedupConfig).

Two physical forms compute the same rows: a broadcast vectorized
kernel in the Python workers for signature tables up to
``BROADCAST_VERIFY_MAX_SIGS`` rows, and a JVM ``array_intersect`` join
past it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.functions.fingerprints import hamming_distance_col
from imageduplicatefinder_spark.operators.hamming_lsh import _popcount64

#: signature-table row count at or below which verify_pairs BROADCASTS
#: the signatures to the vectorized kernel instead of shuffle-joining
#: the pair table against them twice. The two shuffle joins move the
#: pair table twice AND carry the first side's shingle array through
#: the second exchange — at sf1.0 the 46.4M-candidate prefix leg
#: shuffled ~19 GB of arrays for a 43.8 s verify stage; broadcast, the
#: whole verify is one map-side stage over the materialized
#: candidates. 200k rows of (doc_id, simhash, shingles) is ~100-200 MB
#: broadcast — fine for the executors a cluster this size runs; beyond
#: it the shuffle join is the only scalable shape and remains the
#: fallback.
BROADCAST_VERIFY_MAX_SIGS = 200_000

#: padded-rank-matrix budget for the vectorized verify kernel: below
#: this byte size the broadcast ships shingle ranks as one (docs x
#: max_len) matrix (pad = vocab size, rows stay sorted) so each batch
#: counts intersections with a single flat searchsorted; above it
#: (ragged corpora with giant docs) the CSR (flat, offs) form is
#: shipped instead — identical results, pytest-pinned equal.
_PAD_MATRIX_MAX_BYTES = 256 * 1024 * 1024


def _attach(pairs: DataFrame, signatures: DataFrame, side: str,
            cols: list[str]) -> DataFrame:
    sel = signatures.select(
        F.col("doc_id").alias(side), *[F.col(c).alias(f"{c}_{side}") for c in cols]
    )
    return pairs.join(sel, on=side)


def _verify_pairs_vectorized(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    only_verified: bool,
    n_sigs: int,
) -> DataFrame | None:
    """Vectorized verify kernel for the broadcast-sized regime: the
    signature table (guarded by ``BROADCAST_VERIFY_MAX_SIGS``, the same
    bounded-collect pattern as the dense-TF-IDF vocab and the IVF
    centroids) is collected once into a CSR of per-doc sorted shingle
    RANKS + a simhash array, broadcast, and each Arrow batch of
    candidate pairs computes every intersection with ONE
    searchsorted-based sorted-merge over the batch's flattened rank
    arrays — no per-pair JVM set construction. Measured at sf1.0: a
    single JVM ``array_intersect`` pass over the 45.6M-candidate prefix
    leg costs 66 s; this kernel verifies the same pairs in a few
    seconds with bit-identical jaccard/containment/hamming/verified
    values (integer inter/size counts feeding the same float64
    divisions).

    ``n_sigs`` is the caller's ``signatures.count()``. Returns None when
    the kernel does not apply (table over the cap, duplicate ids, a
    NULL shingle array, a shingle array that repeats a value) — the
    caller falls back to the join path, which is also the only scalable
    shape at real corpus sizes. Repeats matter because this kernel
    counts intersections by membership: ``[1,1,2]`` vs ``[1,2]`` would
    score jaccard 3/2 here and 2/3 under the join's ``array_intersect``.
    """
    import numpy as np
    import pandas as pd

    if n_sigs > BROADCAST_VERIFY_MAX_SIGS:
        return None
    # Arrow collect (toPandas): the row-collect path pickles every
    # Row's shingle array through py4j — measured 1.15 s vs 0.2 s at
    # 40k signatures, paid on every verify call
    pdf_sigs = signatures.select("doc_id", "simhash", "shingles").toPandas()
    if len(pdf_sigs) != n_sigs:
        return None
    ids = pdf_sigs["doc_id"].to_numpy(dtype=np.int64)
    if np.unique(ids).size != ids.size:
        return None  # duplicate ids: join semantics would duplicate rows
    if pdf_sigs["shingles"].isnull().any():
        return None  # NULL-shingle semantics live on the join path
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    sims = pdf_sigs["simhash"].to_numpy(dtype=np.int64)[order]
    sh_col = pdf_sigs["shingles"].to_numpy()
    sh_lists = [np.sort(np.asarray(sh_col[i], dtype=np.int64))
                for i in order]
    lens = np.array([len(s) for s in sh_lists], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)])
    flat = (np.concatenate(sh_lists) if len(sh_lists)
            else np.empty(0, dtype=np.int64))
    # rows are sorted, so a repeated shingle is an equal neighbour
    # inside one row
    row = np.repeat(np.arange(len(lens)), lens)
    if ((flat[1:] == flat[:-1]) & (row[1:] == row[:-1])).any():
        return None
    # dense ranks keep the per-batch composite keys inside int64, and
    # int32 storage halves the broadcast + the per-batch gather bytes
    # (rank < vocab size; int64 kept in the no-real-corpus case of a
    # vocab past 2^31 — the composite-key math upcasts either way)
    vocab = np.unique(flat)
    rank_t = np.int32 if vocab.size < (1 << 31) else np.int64
    flat = np.searchsorted(vocab, flat).astype(rank_t)
    v_width = max(1, int(vocab.size))

    # payload layout: a PADDED rank matrix (rows sorted, pad = V at the
    # row end keeps them sorted) lets each batch count intersections
    # with ONE flat searchsorted over per-pair offset rows — measured
    # ~1.45x the CSR gather's composite-key dance, and no per-batch
    # repeat/cumsum scaffolding. Bounded by _PAD_MATRIX_MAX_BYTES
    # (ragged giant docs would blow the padding up); the CSR form is
    # the fallback payload, same results.
    l_max = int(lens.max()) if lens.size else 0
    if 0 < l_max and len(lens) * l_max * flat.itemsize \
            <= _PAD_MATRIX_MAX_BYTES:
        mat = np.full((len(lens), l_max), v_width, dtype=rank_t)
        mat[np.arange(l_max)[None, :] < lens[:, None]] = flat
        payload = ("pad", mat)
    else:
        payload = ("csr", flat, offs)

    spark = pairs.sparkSession
    bc = spark.sparkContext.broadcast(
        (ids, sims, lens, v_width, payload)
    )
    t_j = float(cfg.jaccard_threshold)
    t_c = float(cfg.containment_threshold)
    use_h = bool(cfg.use_simhash_verify)
    radius = int(cfg.hamming_radius)

    def _gather(idx, flat, offs, lens):
        """CSR gather: concatenated rank arrays of docs ``idx`` plus the
        per-element segment number, fully vectorized."""
        cnt = lens[idx]
        total = int(cnt.sum())
        seg = np.repeat(np.arange(len(idx)), cnt)
        seg_starts = np.concatenate([[0], np.cumsum(cnt)])[:-1]
        within = np.arange(total) - np.repeat(seg_starts, cnt)
        return flat[np.repeat(offs[idx], cnt) + within], seg

    def _rebatch(batches, target=65536):
        """Coalesce incoming Arrow batches (the session caps them at
        65,536 records or 16 MB, and upstream partitions often end in
        short batches) to ~64k-pair chunks so the per-batch numpy fixed
        costs amortize."""
        buf: list[pd.DataFrame] = []
        held = 0
        for pdf in batches:
            buf.append(pdf)
            held += len(pdf)
            if held >= target:
                yield pd.concat(buf, ignore_index=True)
                buf, held = [], 0
        if buf:
            yield pd.concat(buf, ignore_index=True)

    def run(batches):
        ids_b, sims_b, lens_b, V, payload_b = bc.value
        for pdf in _rebatch(batches):
            src = pdf["src"].to_numpy(dtype=np.int64)
            dst = pdf["dst"].to_numpy(dtype=np.int64)
            ai = np.searchsorted(ids_b, src)
            bi = np.searchsorted(ids_b, dst)
            ok = (
                (ai < ids_b.size) & (bi < ids_b.size)
                & (ids_b[np.minimum(ai, ids_b.size - 1)] == src)
                & (ids_b[np.minimum(bi, ids_b.size - 1)] == dst)
            )
            src, dst, ai, bi = src[ok], dst[ok], ai[ok], bi[ok]
            n = len(src)
            if n == 0:
                yield pd.DataFrame(
                    columns=["src", "dst", "hamming", "jaccard",
                             "containment", "verified"])
                continue
            if payload_b[0] == "pad":
                mat_b = payload_b[1]
                l_max = mat_b.shape[1]
                inter = np.empty(n, dtype=np.int64)
                # per-pair disjoint offsets (stride V+2: values reach
                # V+1 after the B-side pad bump) make ONE flat
                # searchsorted count every row-wise intersection;
                # chunked to bound the int64 temporaries
                step = max(1, (1 << 21) // max(l_max, 1))
                for s in range(0, n, step):
                    e = min(s + step, n)
                    a_rows = mat_b[ai[s:e]].astype(np.int64)
                    b_rows = mat_b[bi[s:e]].astype(np.int64)
                    # A-side pads stay V, B-side pads become V+1: pads
                    # can never match pads or ranks on the other side
                    b_rows[b_rows == V] = V + 1
                    off = (np.arange(e - s, dtype=np.int64)
                           * (V + 2))[:, None]
                    ka = (a_rows + off).ravel()
                    kb = (b_rows + off).ravel()
                    pos = np.searchsorted(kb, ka)
                    hit = pos < kb.size
                    hit[hit] = kb[pos[hit]] == ka[hit]
                    inter[s:e] = hit.reshape(e - s, l_max).sum(axis=1)
            else:
                flat_b, offs_b = payload_b[1], payload_b[2]
                ka, seg_a = _gather(ai, flat_b, offs_b, lens_b)
                kb, seg_b = _gather(bi, flat_b, offs_b, lens_b)
                # composite (pair, rank) keys are sorted (pair-major,
                # ranks ascending within a doc), so intersection
                # counting is one searchsorted + equality + bincount
                ka = seg_a * V + ka
                kb = seg_b * V + kb
                pos = np.searchsorted(kb, ka)
                hit = pos < kb.size
                hit[hit] = kb[pos[hit]] == ka[hit]
                inter = np.bincount(
                    seg_a[hit], minlength=n
                ).astype(np.int64)
            sa = lens_b[ai].astype(np.float64)
            sb = lens_b[bi].astype(np.float64)
            interf = inter.astype(np.float64)
            union = sa + sb - interf
            with np.errstate(invalid="ignore", divide="ignore"):
                jac = np.where(union > 0, interf / union, 0.0)
                mins = np.minimum(sa, sb)
                con = np.where(mins > 0, interf / mins, 0.0)
            ham = _popcount64(
                (sims_b[ai] ^ sims_b[bi]).view(np.uint64)
            ).astype(np.int32)
            verified = (jac >= t_j) | (con >= t_c)
            if use_h:
                verified |= ham <= radius
            out = pd.DataFrame(
                {
                    "src": src,
                    "dst": dst,
                    "hamming": ham,
                    "jaccard": jac,
                    "containment": con,
                    "verified": verified,
                }
            )
            yield out[out["verified"]] if only_verified else out

    return pairs.select("src", "dst").mapInPandas(
        run,
        "src long, dst long, hamming int, jaccard double, "
        "containment double, verified boolean",
    )


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    only_verified: bool = False,
) -> DataFrame:
    """(src,dst) candidates -> verified edges with evidence columns.

    Output: src, dst, hamming:int, jaccard:double, containment:double,
    verified:boolean. Keep only verified rows for clustering; the full
    frame (pre-filter) is useful for threshold tuning.

    ``signatures`` needs ``doc_id, simhash, shingles`` (a signatures
    table, or a projection of one). Verification is always exact over
    the shingle sets. A pair with a NULL shingle side (a hand-built
    table) gets NULL jaccard/containment/verified: unknown, dropped by
    a filter(verified), never a silent 0.0.

    ``only_verified``: return only rows passing the rule (identical to
    ``.filter("verified")`` on the full frame) — lets the vectorized
    kernel below skip serializing the overwhelmingly-rejected candidate
    majority back from the Python workers.

    Physical dispatch (output-identical): when the signature table fits
    the ``BROADCAST_VERIFY_MAX_SIGS`` guard and carries non-NULL,
    repeat-free shingle sets, verification runs as a broadcast +
    vectorized sorted-merge intersection kernel
    (``_verify_pairs_vectorized``); otherwise as the ``array_intersect``
    join below (AQE still broadcasts a side under the session's
    broadcast threshold).
    """
    # the kernel's guard — metadata-only when signatures is the
    # pipeline's parquet checkpoint read-back
    n_sigs = signatures.count()
    fast = _verify_pairs_vectorized(pairs, signatures, cfg,
                                    only_verified, n_sigs)
    if fast is not None:
        return fast
    # the kernel refused the table: too large, or ids, NULL or repeated
    # shingles it cannot count — AQE still broadcasts a small side
    cols = ["simhash", "shingles"]
    df = _attach(_attach(pairs, signatures, "src", cols),
                 signatures, "dst", cols)

    inter = F.size(F.array_intersect("shingles_src", "shingles_dst"))
    sa = F.size("shingles_src")
    sb = F.size("shingles_dst")
    union = sa + sb - inter
    both = F.col("shingles_src").isNotNull() & F.col("shingles_dst").isNotNull()
    # F.when without otherwise: NULL when a shingle side is NULL
    df = (
        df.withColumn(
            "hamming",
            hamming_distance_col(F.col("simhash_src"), F.col("simhash_dst")),
        )
        .withColumn("_inter", inter)
        .withColumn(
            "jaccard",
            F.when(
                both,
                F.when(union > 0, F.col("_inter") / union).otherwise(F.lit(0.0)),
            ),
        )
        .withColumn(
            "containment",
            F.when(
                both,
                F.when(
                    F.least(sa, sb) > 0, F.col("_inter") / F.least(sa, sb)
                ).otherwise(F.lit(0.0)),
            ),
        )
        .drop("_inter")
    )

    rule = (F.col("jaccard") >= F.lit(cfg.jaccard_threshold)) | (
        F.col("containment") >= F.lit(cfg.containment_threshold)
    )
    if cfg.use_simhash_verify:
        rule = rule | (F.col("hamming") <= F.lit(cfg.hamming_radius))
    df = df.withColumn("verified", rule)
    if only_verified:
        df = df.filter(F.col("verified"))
    return df.select(
        "src", "dst", "hamming", "jaccard", "containment", "verified"
    )
