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

Two legs differ only in how the shingle arrays reach the Python
workers — a broadcast of the signature table (up to
``BROADCAST_VERIFY_MAX_SIGS`` rows, unique ids) or two shuffle joins
onto the pairs — and share one counter (``_intersections``) and one
rule (``_score``). |A ∩ B| counts a repeated value once while |A|, |B|
are the array lengths (``[1,1,2]`` vs ``[1,2]``: jaccard 2/3); a NULL
array gives NULL jaccard, containment and verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
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

#: padded-rank-matrix budget for the broadcast leg: below this byte
#: size the broadcast ships shingle ranks as one (docs x max_len)
#: matrix (pad = vocab size, rows stay sorted) so each batch counts
#: intersections with a single flat searchsorted; above it (ragged
#: corpora with giant docs) the CSR (flat, offs) form is shipped
#: instead — identical results, pytest-pinned equal.
_PAD_MATRIX_MAX_BYTES = 256 * 1024 * 1024

_SCHEMA = ("src long, dst long, hamming int, jaccard double, "
           "containment double, verified boolean")


def _attach(pairs: DataFrame, signatures: DataFrame, side: str,
            cols: list[str]) -> DataFrame:
    sel = signatures.select(
        F.col("doc_id").alias(side), *[F.col(c).alias(f"{c}_{side}") for c in cols]
    )
    return pairs.join(sel, on=side)


def _matches(ka, kb):
    """Which keys of ``ka`` occur in the sorted ``kb``."""
    import numpy as np

    pos = np.searchsorted(kb, ka)
    hit = pos < kb.size
    hit[hit] = kb[pos[hit]] == ka[hit]
    return hit


def _intersections(ka, seg_a, kb, n):
    """|A ∩ B| for each of ``n`` pairs. ``ka`` / ``kb`` are composite
    keys ``pair * V + code`` (``code`` < V a dense relabelling of the
    values: raw 64-bit hashes would overflow), sorted and repeat-free
    within each pair; ``seg_a`` is the pair number of each ``ka`` key."""
    import numpy as np

    return np.bincount(seg_a[_matches(ka, kb)], minlength=n).astype(np.int64)


def _score(src, dst, inter, size_a, size_b, sim_a, sim_b, known, rule,
           only_verified):
    """The verify rule over one batch of pairs -> the output frame.
    Integer counts feed float64 divisions (0.0 over an empty union or
    side). Where ``known`` is False (a NULL array) jaccard, containment
    and verified are NULL (NaN / None reach Spark as NULL); ``rule`` is
    (jaccard, containment threshold, radius or None)."""
    import numpy as np
    import pandas as pd

    t_j, t_c, radius = rule
    sa = size_a.astype(np.float64)
    sb = size_b.astype(np.float64)
    interf = inter.astype(np.float64)
    union = sa + sb - interf
    with np.errstate(invalid="ignore", divide="ignore"):
        jac = np.where(union > 0, interf / union, 0.0)
        mins = np.minimum(sa, sb)
        con = np.where(mins > 0, interf / mins, 0.0)
    ham = _popcount64((sim_a ^ sim_b).view(np.uint64)).astype(np.int32)
    verified = (jac >= t_j) | (con >= t_c)
    if radius is not None:
        verified |= ham <= radius
    out = pd.DataFrame({"src": src, "dst": dst, "hamming": ham,
                        "jaccard": jac, "containment": con,
                        "verified": verified})
    if not known.all():
        out.loc[~known, ["jaccard", "containment"]] = np.nan
        out["verified"] = np.where(known, verified, None)
        verified &= known
    return out[verified] if only_verified else out


def _broadcast_leg(pairs: DataFrame, sig_pdf, rule,
                   only_verified: bool) -> DataFrame:
    """Verify against the collected signature table ``sig_pdf`` (unique
    ids): per-doc sorted, repeat-free shingle RANKS plus the raw sizes,
    simhashes and NULL mask are broadcast once, and each Arrow batch of
    pairs counts every intersection with ONE sorted-merge. Measured at
    sf1.0: 66 s for a per-pair JVM set intersection over the 45.6M
    prefix candidates, a few seconds here."""
    import numpy as np
    import pandas as pd

    ids = sig_pdf["doc_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    sims = sig_pdf["simhash"].to_numpy(dtype=np.int64)[order]
    sh_col = sig_pdf["shingles"].to_numpy()
    known = sig_pdf["shingles"].notna().to_numpy()[order]
    empty = np.empty(0, dtype=np.int64)
    sh_lists = [np.sort(np.asarray(sh_col[i] if known[j] else empty,
                                   dtype=np.int64))
                for j, i in enumerate(order)]
    sizes = np.array([len(s) for s in sh_lists], dtype=np.int64)
    flat = np.concatenate(sh_lists) if len(sh_lists) else empty
    # set semantics: rows are sorted, so a repeated shingle is an equal
    # neighbour inside one row — drop it (sizes keep the raw lengths)
    row = np.repeat(np.arange(len(sizes)), sizes)
    new = np.ones(flat.size, dtype=bool)
    new[1:] = (flat[1:] != flat[:-1]) | (row[1:] != row[:-1])
    flat = flat[new]
    lens = np.bincount(row[new], minlength=len(sizes)).astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)])
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
        payload = ("csr", flat, offs, lens)

    bc = pairs.sparkSession.sparkContext.broadcast(
        (ids, sims, sizes, known, v_width, payload))

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
        ids_b, sims_b, sizes_b, known_b, V, payload_b = bc.value
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
                    hit = _matches((a_rows + off).ravel(),
                                   (b_rows + off).ravel())
                    inter[s:e] = hit.reshape(e - s, l_max).sum(axis=1)
            else:
                flat_b, offs_b, lens_b = payload_b[1:]
                ka, seg_a = _gather(ai, flat_b, offs_b, lens_b)
                kb, seg_b = _gather(bi, flat_b, offs_b, lens_b)
                # composite (pair, rank) keys are sorted (pair-major,
                # ranks ascending within a doc)
                inter = _intersections(seg_a * V + ka, seg_a,
                                       seg_b * V + kb, n)
            yield _score(src, dst, inter, sizes_b[ai], sizes_b[bi],
                         sims_b[ai], sims_b[bi],
                         known_b[ai] & known_b[bi], rule, only_verified)

    return pairs.select("src", "dst").mapInPandas(run, _SCHEMA)


def _shuffle_leg(pairs: DataFrame, signatures: DataFrame, rule,
                 only_verified: bool) -> DataFrame:
    """Attach ``simhash, shingles`` for ``src`` and ``dst`` by two
    shuffle joins (AQE still broadcasts a side under the session's
    threshold), then per Arrow batch code the flattened lists' values
    and count and score as the broadcast leg does."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = ["simhash", "shingles"]
    df = _attach(_attach(pairs, signatures, "src", cols),
                 signatures, "dst", cols)
    out_schema = pa.schema([("src", pa.int64()), ("dst", pa.int64()),
                            ("hamming", pa.int32()), ("jaccard", pa.float64()),
                            ("containment", pa.float64()),
                            ("verified", pa.bool_())])

    def run(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            flats, sizes, nulls = [], [], []
            for side in ("src", "dst"):
                arr = rb.column(f"shingles_{side}")
                # flatten() honours the slice offset and skips NULL slots
                flats.append(arr.flatten())
                sizes.append(
                    pc.list_value_length(arr).fill_null(0).to_numpy())
                nulls.append(arr.is_null().to_numpy(zero_copy_only=False))
            # dense codes for the batch's values (a hash pass, ~4x
            # cheaper than np.unique's argsort); np.unique then sorts
            # each pair's composite keys and drops repeats
            enc = pc.dictionary_encode(pa.concat_arrays(flats))
            codes = enc.indices.to_numpy()
            V = max(1, len(enc.dictionary))
            pair = np.arange(n, dtype=np.int64)
            n_a = len(flats[0])
            ka = np.unique(np.repeat(pair, sizes[0]) * V + codes[:n_a])
            kb = np.unique(np.repeat(pair, sizes[1]) * V + codes[n_a:])
            out = _score(
                rb.column("src").to_numpy(), rb.column("dst").to_numpy(),
                _intersections(ka, ka // V, kb, n), sizes[0], sizes[1],
                rb.column("simhash_src").to_numpy(),
                rb.column("simhash_dst").to_numpy(),
                ~(nulls[0] | nulls[1]), rule, only_verified,
            )
            yield pa.RecordBatch.from_pandas(out, schema=out_schema,
                                             preserve_index=False)

    return df.select(
        "src", "dst", "simhash_src", "shingles_src", "simhash_dst",
        "shingles_dst",
    ).mapInArrow(run, _SCHEMA)


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
    the shingle sets: |A ∩ B| counts each shared value once, |A| and
    |B| are the array lengths. A pair with a NULL shingle side (a
    hand-built table) gets NULL jaccard/containment/verified: unknown,
    dropped by a filter(verified), never a silent 0.0.

    ``only_verified``: return only rows passing the rule (identical to
    ``.filter("verified")`` on the full frame) — lets the Python
    workers skip serializing the overwhelmingly-rejected candidate
    majority back to the JVM.

    Physical dispatch (output-identical): a signature table of at most
    ``BROADCAST_VERIFY_MAX_SIGS`` rows with unique ids is broadcast
    (``_broadcast_leg``); otherwise, or when ids repeat (join semantics
    then duplicate the pair's rows), both sides are shuffle-joined onto
    the pairs (``_shuffle_leg``).
    """
    rule = (float(cfg.jaccard_threshold), float(cfg.containment_threshold),
            int(cfg.hamming_radius) if cfg.use_simhash_verify else None)
    # the guard — metadata-only when signatures is the pipeline's
    # parquet checkpoint read-back
    if signatures.count() <= BROADCAST_VERIFY_MAX_SIGS:
        # Arrow collect (toPandas): the row-collect path pickles every
        # Row's shingle array through py4j — measured 1.15 s vs 0.2 s
        # at 40k signatures, paid on every verify call
        sig_pdf = signatures.select("doc_id", "simhash", "shingles").toPandas()
        if not sig_pdf["doc_id"].duplicated().any():
            return _broadcast_leg(pairs, sig_pdf, rule, only_verified)
    return _shuffle_leg(pairs, signatures, rule, only_verified)
