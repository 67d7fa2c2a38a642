"""Content fingerprinting: k-shingles -> LSH band hashes + 64-bit SimHash.

Spark-native generalization of the reference's perceptual hashers
(ref: src/main/java/hash/AHash.java:7-30, DHash.java:7-34,
PHashDct.java:13-57 — all ``BufferedImage -> 64-bit long``): here the
payload is text/source-code, the 64-bit sketch is a SimHash over token
hashes (mean-threshold bit test, the aHash analog), and a MinHash
signature the reference lacks is banded into LSH keys inside the UDF.
The UDF emits the distinct shingle set (verification is exact over it)
and the band hashes, never the signature itself.

All kernels are numpy-vectorized and run inside Arrow-batched pandas
UDFs — no per-row Python UDFs (BASELINE.json input_hint mandate).
Hamming verification stays fully JVM-side via ``bit_count(a ^ b)``
(ref: src/main/java/hash/Hamming.java:4-6).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from imageduplicatefinder_spark.config import DedupConfig

_WORD_RE = re.compile(r"\w+")


def _perm_params(num_perm: int, seed: int) -> np.ndarray:
    """One 64-bit key per MinHash slot. Each slot's permutation is
    ``splitmix64_mix(x + key)`` — a bijection of uint64 (add-key is
    bijective, the finalizer is bijective), i.e. a genuine random
    permutation family. A linear ``(a*x+b) mod p`` family is NOT usable
    here: with x « p it is near-monotone in x, so all slots share one
    argmin and signature agreement no longer estimates Jaccard.
    """
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 64, size=num_perm, dtype=np.uint64)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public domain; Steele et al. 2014) —
    vectorized, wrapping uint64 arithmetic."""
    h = h.copy()
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def tokenize_series(content: pd.Series, tokenizer: str) -> pd.Series:
    """Series[str] -> Series[list[str]]. Word tokens (lowercased \\w+ runs)
    or characters of the whitespace-collapsed lowercased string."""
    s = content.fillna("")
    if tokenizer == "word":
        return s.str.lower().str.findall(_WORD_RE)
    # char tokenizer: canonicalize whitespace then split to chars
    canon = s.str.lower().str.replace(r"\s+", " ", regex=True).str.strip()
    return canon.map(list)


# odd multipliers making the k-window combination order-sensitive and
# well-mixed after the splitmix64 finalizer
_COMBINE_C = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0x2545F4914F6CDD1D,
     0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53],
    dtype=np.uint64,
)


def _token_hashes(tokens: list[str]) -> np.ndarray:
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    return pd.util.hash_array(np.asarray(tokens, dtype=object))


def _combine_windows(h: np.ndarray, k: int) -> np.ndarray:
    """k-gram shingle hashes from token hashes: order-sensitive linear
    combination + splitmix64 finalizer, fully vectorized. Docs shorter
    than k collapse to one whole-doc shingle (zero-padded window) —
    degenerate family, FIXTURES.md §3."""
    if k > _COMBINE_C.shape[0]:
        raise ValueError(f"shingle_k up to {_COMBINE_C.shape[0]} supported")
    n = h.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n < k:
        h = np.pad(h, (0, k - n))
        n = k
    acc = np.zeros(n - k + 1, dtype=np.uint64)
    for j in range(k):
        acc += h[j : n - k + 1 + j] * _COMBINE_C[j]
    return _mix64(acc)


def shingle_hashes_numpy(tokens: list[str], k: int) -> np.ndarray:
    """Distinct k-shingle hashes (uint64) of one token list — the
    single-row reference for the batched kernel in _fingerprint_batch
    (a test asserts they agree)."""
    return np.unique(_combine_windows(_token_hashes(tokens), k))


def minhash_numpy(shingle_hashes: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """MinHash signature (int64[num_perm]) of one shingle-hash set.

    sig[i] = min over the set of the i-th keyed 64-bit permutation;
    P(sig_A[i] == sig_B[i]) == Jaccard(A, B) exactly. Returned as the
    bit-identical int64 view (Spark LongType carries the 64 bits;
    ordering across docs is irrelevant, only equality is used).
    """
    if shingle_hashes.size == 0:
        return np.full(keys.shape[0], np.int64(np.iinfo(np.int64).max), dtype=np.int64)
    perms = _mix64(shingle_hashes[None, :] + keys[:, None])  # (num_perm, n)
    return perms.min(axis=1).view(np.int64)


def simhash_numpy(token_hashes: np.ndarray) -> np.int64:
    """64-bit SimHash of one doc's token-hash multiset.

    Bit j is set iff more than half the tokens have bit j set — the
    mean-threshold rule generalizing aHash's ``px >= mean`` bit test
    (ref: src/main/java/hash/AHash.java:21-29). Empty doc -> 0, matching
    the reference's black-image pHash == 0L golden
    (ref: src/test/java/hash/PHashDctTest.java:49-60).
    """
    n = token_hashes.size
    if n == 0:
        return np.int64(0)
    bits = np.unpackbits(token_hashes.view(np.uint8).reshape(n, 8), axis=1)
    counts = bits.sum(axis=0, dtype=np.int64)  # 64 counts
    out_bits = (counts * 2 > n).astype(np.uint8)
    return np.packbits(out_bits).view(np.uint64)[0].astype(np.int64)


def gradsign_numpy(token_hashes: np.ndarray) -> np.int64:
    """64-bit gradient-sign sketch of one doc's token-hash SEQUENCE —
    the dHash analog (ref: src/main/java/hash/DHash.java:21-29: resize
    to 9x8 pixels, bit = right pixel brighter than left). Here the
    token-hash sequence is nearest-neighbor "resized" to 65 samples
    (sample j = hash at position floor(j*n/65)) and bit j is the
    gradient sign between adjacent samples. Order-sensitive (unlike
    SimHash's multiset majority — a genuinely second family, H2), and
    stable under local edits because resampling is positional.
    Empty doc -> 0, matching the black-image golden."""
    n = token_hashes.size
    if n == 0:
        return np.int64(0)
    idx = (np.arange(65, dtype=np.int64) * n) // 65
    vals = token_hashes[idx]
    bits = (vals[1:] > vals[:-1]).astype(np.uint8)
    return np.packbits(bits).view(np.uint64)[0].astype(np.int64)


_SLAB_ELEMS = 1 << 20  # ~8 MB of uint64 per permutation-slab column block


def _fingerprint_batch(
    content: pd.Series, cfg: DedupConfig, keys: np.ndarray
) -> pd.DataFrame:
    """Whole-batch vectorized kernel: one token-hash call, boundary-masked
    sliding-window shingles, reduceat MinHash/SimHash. Per-row Python is
    limited to the final list materialization for the shingles column."""
    k = cfg.shingle_k
    token_lists = tokenize_series(content, cfg.tokenizer)
    n_rows = len(token_lists)
    counts = np.fromiter((len(t) for t in token_lists), dtype=np.int64,
                         count=n_rows)
    all_tokens: list[str] = [t for row in token_lists for t in row]
    flat_h = _token_hashes(all_tokens)
    row_of = np.repeat(np.arange(n_rows), counts)
    row_starts = np.concatenate([[0], np.cumsum(counts)])

    # --- 64-bit sketch slot: family dispatched by cfg.sketch -------------
    # (the --algo analog, ref: app/Commands.java:58-67; column name stays
    # `simhash` — it is THE sketch slot, like the reference's one
    # ``long hash(img)`` regardless of hasher)
    simhashes = np.zeros(n_rows, dtype=np.int64)
    nonempty = counts > 0
    if flat_h.size and cfg.sketch == "gradsign":
        # gradient-sign family (dHash analog): nearest-neighbor resample
        # each row's hash sequence to 65 samples, compare neighbors —
        # one fancy-index gather for the whole batch
        ar = np.arange(65, dtype=np.int64)
        idx = (ar[None, :] * counts[nonempty, None]) // 65 \
            + row_starts[:-1][nonempty, None]
        vals = flat_h[idx]
        gbits = (vals[:, 1:] > vals[:, :-1]).astype(np.uint8)
        simhashes[nonempty] = (
            np.packbits(gbits, axis=1).view(np.uint64).ravel().view(np.int64)
        )
    elif flat_h.size:
        # SimHash family: unpack bits once, segment-sum per row
        bits = np.unpackbits(flat_h.view(np.uint8).reshape(-1, 8), axis=1)
        seg = row_starts[:-1][nonempty]
        bitsums = np.add.reduceat(bits, seg, axis=0)
        # reduceat merges segments of empty rows; nonempty mask gives the
        # correct starts, one output row per nonempty doc
        maj = (bitsums * 2 > counts[nonempty, None]).astype(np.uint8)
        # same packing as simhash_numpy: packbits bytes viewed as
        # native-endian uint64
        simhashes[nonempty] = (
            np.packbits(maj, axis=1).view(np.uint64).ravel().view(np.int64)
        )

    # --- shingles: sliding windows over the flat array, rows with n >= k;
    #     short rows handled individually (rare) --------------------------
    N = flat_h.size
    sh_flat = np.empty(0, dtype=np.uint64)
    sh_row = np.empty(0, dtype=np.int64)
    if N >= k:
        acc = np.zeros(N - k + 1, dtype=np.uint64)
        for j in range(k):
            acc += flat_h[j : N - k + 1 + j] * _COMBINE_C[j]
        valid = row_of[: N - k + 1] == row_of[k - 1 :]
        sh_flat = _mix64(acc[valid])
        sh_row = row_of[: N - k + 1][valid]
    short_rows = np.nonzero((counts > 0) & (counts < k))[0]
    if short_rows.size:
        extra = [
            _combine_windows(flat_h[row_starts[r] : row_starts[r + 1]], k)
            for r in short_rows
        ]
        sh_flat = np.concatenate([sh_flat, np.concatenate(extra)])
        sh_row = np.concatenate([sh_row, short_rows.astype(np.int64)])
        order = np.argsort(sh_row, kind="stable")
        sh_flat, sh_row = sh_flat[order], sh_row[order]

    # distinct sorted shingles per row, vectorized: lexsort + dedupe mask
    if sh_flat.size:
        order = np.lexsort((sh_flat, sh_row))
        s_sorted, r_sorted = sh_flat[order], sh_row[order]
        keep = np.ones(s_sorted.size, dtype=bool)
        keep[1:] = (s_sorted[1:] != s_sorted[:-1]) | (r_sorted[1:] != r_sorted[:-1])
        s_u, r_u = s_sorted[keep], r_sorted[keep]
    else:
        s_u = np.empty(0, dtype=np.uint64)
        r_u = np.empty(0, dtype=np.int64)
    u_counts = np.bincount(r_u, minlength=n_rows)
    u_starts = np.concatenate([[0], np.cumsum(u_counts)])

    # --- minhash: keyed permutations + minimum.reduceat in row slabs -----
    num_perm = keys.shape[0]
    sentinel = np.iinfo(np.int64).max
    minhash_mat = np.full((n_rows, num_perm), sentinel, dtype=np.int64)
    has_sh = np.nonzero(u_counts > 0)[0]
    if has_sh.size:
        # Slab rows so the (slab_elems x num_perm) matrix stays memory
        # friendly. Orientation matters: reduceat along axis=0 reduces
        # contiguous row-blocks with the 128-wide inner dim fully
        # vectorized (axis=1 reduceat degrades to per-segment scalar
        # loops — measured ~10x slower). Shingle ranges of ascending
        # rows are contiguous in s_u, so a slab is a plain slice.
        def flush(slab_rows: np.ndarray) -> None:
            a = u_starts[slab_rows[0]]
            b = u_starts[slab_rows[-1] + 1]
            vals = s_u[a:b]
            offs = u_starts[slab_rows] - a
            perms = _mix64(vals[:, None] + keys[None, :])
            mins = np.minimum.reduceat(perms, offs, axis=0)
            minhash_mat[slab_rows, :] = mins.view(np.int64)

        slab_start = 0
        elems = 0
        for i, r in enumerate(has_sh):
            elems += int(u_counts[r])
            if elems * num_perm >= _SLAB_ELEMS:
                flush(has_sh[slab_start : i + 1])
                slab_start, elems = i + 1, 0
        if slab_start < has_sh.size:
            flush(has_sh[slab_start:])

    shingle_lists = [
        s_u[u_starts[r] : u_starts[r + 1]].astype(np.int64).tolist()
        for r in range(n_rows)
    ]
    band_mat = band_hashes_numpy(minhash_mat, cfg.lsh_bands, cfg.lsh_rows)
    return pd.DataFrame(
        {
            "simhash": simhashes,
            "shingles": shingle_lists,
            "n_tokens": counts,
            "bands": [row.tolist() for row in band_mat],
        }
    )


FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("simhash", T.LongType()),
        T.StructField("shingles", T.ArrayType(T.LongType(), False)),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("bands", T.ArrayType(T.LongType(), False)),
    ]
)


def band_hashes_numpy(minhash_mat: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """LSH band hashes from a (n_docs, num_perm) signature matrix:
    band j of doc i = mix64 of the order-sensitive combination of its
    r signature slots + the band index. Vectorized for the whole batch —
    doing this JVM-side costs 64 array-slice allocations per row.
    """
    n = minhash_mat.shape[0]
    sig = minhash_mat.view(np.uint64).reshape(n, bands, rows)
    acc = np.full((n, bands), 0, dtype=np.uint64)
    for j in range(rows):
        acc += sig[:, :, j] * _COMBINE_C[j % _COMBINE_C.shape[0]]
    acc += np.arange(bands, dtype=np.uint64)[None, :] * np.uint64(0x9E3779B97F4A7C15)
    return _mix64(acc).view(np.int64)


def make_fingerprint_udf(cfg: DedupConfig):
    """Scalar-iterator pandas UDF ``content -> struct<simhash, shingles,
    n_tokens, bands>`` (ref UDF surface: hash/Hasher.java:4-7 — the
    reference's one extension point, reformulated Arrow-batched). The
    MinHash signature never leaves the UDF: it only feeds the band
    hashes, and verification is exact over the shingle sets."""
    keys = _perm_params(cfg.num_perm, cfg.seed)

    @pandas_udf(FINGERPRINT_SCHEMA)
    def fingerprint(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for content in batches:
            yield _fingerprint_batch(content, cfg, keys)

    return fingerprint


def hamming_distance_col(x: Column, y: Column) -> Column:
    """JVM-side Hamming distance ``popcount(x XOR y)``
    (ref: src/main/java/hash/Hamming.java:4-6)."""
    return F.bit_count(x.bitwiseXOR(y))
