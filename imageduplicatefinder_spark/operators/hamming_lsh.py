"""Hamming-radius search over 64-bit sketches.

Distributed replacement for the reference's BK-tree radius query
(ref: src/main/java/index/BKTreeIndex.java:34-50 ``withinHamming`` —
pointer-chasing DFS with triangle-inequality pruning). One rule picks
the physical form, from the distinct-sketch count S (one count job)
and the radius (``_key_scheme``):

- S < ``KEY_JOIN_MIN_SKETCHES`` (50,000): an exact tiled all-pairs
  XOR/popcount kernel (``_close_pairs_tiles``: ``block_pair_tiles``
  over the distinct-sketch table, SWAR popcount, no join). A
  connected-components consumer gets the union of per-tile spanning
  forests instead (``_forest_edges_tiles``): the same components in at
  most 2 x (tile blocks) x S edges, under the driver-pass bound of the
  consumer's ``connected_components``.
- S >= 50,000: a pigeonhole key join, generalized to combination keys
  (the shape of Manku/Jain/Das Sarma, "Detecting Near-Duplicates for
  Web Crawling", WWW'07 §3). Split the sketch into B = radius + m
  disjoint bit blocks. A pair within Hamming distance ``radius`` has
  at most ``radius`` differing bits, which touch at most ``radius``
  blocks, so AT LEAST m blocks are bit-identical in BOTH sketches.
  Equi-joining on (combo_id, packed combo value) over all C(B, m)
  block combinations therefore finds EVERY pair within the radius,
  and ``bit_count(a XOR b) <= radius`` verifies JVM-side
  (ref: hash/Hamming.java:4-6).

The radius fixes m: m=1 (radius+1 single chunks) while chunks are at
least 10 bits wide (radius <= 5); m=2 below that, since at radius 10
single chunks are 5-6 bits and ~20% of ALL sketch pairs would collide
in one — m=2 gives 12 blocks, C(12,2)=66 combo keys of 10-12 bits.
Even m=2 goes near-quadratic on dispersed corpora, so at m=2 a salted
per-key cap of ``AUTO_MAX_KEY_GROUP`` bounds the candidates linearly in
S — the capped key join of operators/lsh.py (``hot_keys`` ->
``kept_given_hot`` -> ``key_pairs``), the same rule as the LSH band
cap; the driver gets a ``HammingAutoCapWarning`` and
``hamming_key_stats`` lists the capped keys. Everywhere else the search
is exact.

Scale shape:
- both forms run over DISTINCT sketch values, not documents — the
  dominant skew source (many docs sharing one sketch, e.g. boilerplate
  families) collapses to one row; same-sketch doc pairs are emitted by
  a separate cheap equi-join on the sketch;
- the key join dedups candidates with a distinct() on sketch pairs
  (bounded by the verified output size x combo count, not by doc
  pairs);
- for a connected-components consumer, ``hamming_edges`` emits
  rep->member star edges per sketch group plus ONE rep-rep edge per
  close sketch pair (or spanning-forest edge) — linear in (docs +
  close sketch pairs), never quadratic in group size, with identical
  components.

Works for ANY 64-bit sketch family (SimHash, the gradient-sign family
in functions/fingerprints.py, or an externally-computed pHash).
"""

from __future__ import annotations

import logging
import warnings
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.functions.fingerprints import hamming_distance_col
from imageduplicatefinder_spark.operators.components import (
    _np_min_label_components,
)
from imageduplicatefinder_spark.operators.lsh import (
    hot_keys,
    key_pairs,
    kept_given_hot,
)
from imageduplicatefinder_spark.operators.tiles import block_pair_tiles

_LOG = logging.getLogger(__name__)


class HammingAutoCapWarning(UserWarning):
    """Raised (as a warning) when the m=2 key join caps its per-key
    groups, i.e. the result became approximate: groups deeper than
    ``AUTO_MAX_KEY_GROUP`` were down-sampled and true pairs whose ONLY
    agreeing block combination was a capped key are dropped. Audit with
    ``hamming_key_stats``."""


def _chunk_widths(bits: int, n_chunks: int) -> list[int]:
    base, rem = divmod(bits, n_chunks)
    return [base + 1] * rem + [base] * (n_chunks - rem)


#: distinct-sketch count S from which the search leaves the exact
#: tiles for the pigeonhole key join. Tiles cost S^2/2 popcounts
#: (measured 3.0e7 pair-checks/s per core); the key join's raw output
#: is Sum_key |group|^2 rows, which on CLUSTERED sketches with narrow
#: keys runs far past the true pairs (1.62e9 joined rows for 49.7k
#: clustered sketches at sf1.0 on radius-10 single chunks). Measured
#: on local[4], clustered sketches (20% in 5-member families), equal
#: pair sets, the key join run first (so it also paid the session
#: warm-up):
#:
#:   S         radius  key join  tiles
#:   20,000    5       10.4 s    11.1 s
#:   49,000    5       11.5 s    21.7 s
#:   100,000   5       13.6 s    75.6 s
#:   100,000   2       11.9 s    66.0 s
#:
#: At radius >= 6 this is also where the per-key cap engages — below
#: it the cap would never trigger anyway (every key group is tiny) —
#: so one threshold serves every radius.
KEY_JOIN_MIN_SKETCHES = 50_000

#: per-key cap of the m=2 key join (radius >= 6). There the packed
#: combo keys are narrow enough that DISPERSED sketch corpora go
#: near-quadratic even at m=2 (uniform 64-bit sketches: ~91M candidates
#: at 64k, x~19 at 256k — BENCH.md round 3); with a per-key cap
#: candidates are
#:   <= S * C(radius+m, m) * cap   — LINEAR in S
#: (measured: cap 32 gives growth exponent 0.211 at 64k->256k, 45.0M ->
#: 60.3M candidates, while cap 128 barely engages — uniform m=2 key
#: groups at 256k run 62-250 deep, so 128 leaves the quadratic mostly
#: intact at exponent 1.53; BENCH.md rounds 3-4, "Bounded radius-10
#: Hamming plan"). ``hamming_key_stats`` surfaces exactly which keys
#: the cap truncated.
AUTO_MAX_KEY_GROUP = 32
#: target rows per tile block (tile = ~2 blocks -> xor temp stripes
#: stay tens of MB; B(B+1)/2 tasks comfortably oversubscribe any core
#: count reached at this S)
_TILE_BLOCK_ROWS = 3072


def _auto_n_agree(radius: int) -> int:
    """m, the number of blocks a close pair must agree on: single chunks
    of >= 10 bits (radius <= 5) are selective enough on their own;
    narrower chunks get pair-combination keys."""
    return 1 if 64 // (radius + 1) >= 10 else 2


def _key_scheme(radius: int, n_sketches: int) -> tuple[int, int | None] | None:
    """The one dispatch rule: None (exact tiles) below
    ``KEY_JOIN_MIN_SKETCHES`` distinct sketches, else the key join's
    (m, per-key cap) — the cap only at m=2."""
    if n_sketches < KEY_JOIN_MIN_SKETCHES:
        return None
    m = _auto_n_agree(radius)
    return m, AUTO_MAX_KEY_GROUP if m == 2 else None


def _block_exprs(sketch_col: str, widths: list[int]) -> list[Column]:
    """One unsigned block value per width, LSB-first. Pure JVM bit math."""
    exprs: list[Column] = []
    off = 0
    for w in widths:
        # w == 64 (radius 0, one block): the all-ones mask as signed long
        mask = -1 if w == 64 else (1 << w) - 1
        exprs.append(
            F.shiftrightunsigned(F.col(sketch_col), off)
            .bitwiseAND(F.lit(mask))
        )
        off += w
    return exprs


def sketch_keys(
    sketches: DataFrame,
    radius: int,
    sketch_col: str = "simhash",
) -> DataFrame:
    """(sketch, key_id, key_val) for the C(radius+m, m) pigeonhole
    block-combination keys of each DISTINCT sketch value, m from
    ``_auto_n_agree``.

    ``key_val`` packs the m block values of the combination into one
    long (total packed width <= 64 bits since the blocks partition the
    sketch, so packing is collision-free).
    """
    _validate_radius(radius)
    m = _auto_n_agree(radius)
    n_blocks = radius + m
    widths = _chunk_widths(64, n_blocks)
    blocks = _block_exprs("sketch", widths)
    combo_vals: list[Column] = []
    for combo in combinations(range(n_blocks), m):
        packed = blocks[combo[0]]
        for idx in combo[1:]:
            packed = F.shiftleft(packed, widths[idx]).bitwiseOR(blocks[idx])
        combo_vals.append(packed)
    return (
        sketches.select(F.col(sketch_col).alias("sketch"))
        .distinct()
        .select(
            "sketch",
            F.posexplode(F.array(*combo_vals)).alias("key_id", "key_val"),
        )
    )


def _popcount64(x):
    """Vectorized SWAR popcount over a uint64 ndarray (numpy < 2 has no
    bitwise_count). Wrapping uint64 arithmetic is intentional."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * h01) >> np.uint64(56)


def _tile_pairs(src: DataFrame, n_sk: int, kernel, schema: str) -> DataFrame:
    """``block_pair_tiles`` over the distinct-sketch table, blocked by
    sketch value at ~``_TILE_BLOCK_ROWS`` sketches per block."""
    n_blocks = max(1, min(64, -(-n_sk // _TILE_BLOCK_ROWS)))
    return block_pair_tiles(src.select("sketch"), "sketch", n_blocks,
                            kernel, schema)


def _close_positions(A, B, diag: bool, radius: int):
    """(ai, bi, hamming) positions of every pair of sketch arrays A x B
    within ``radius`` (only i < j on a diagonal tile, where A and B
    hold the same rows).
    Streams A in row stripes so the xor temp stays tens of MB
    regardless of block size."""
    import numpy as np

    bu = B.view(np.uint64)
    stripe = max(1, (1 << 22) // max(len(B), 1))
    ai_all, bi_all, ham_all = [], [], []
    for s in range(0, len(A), stripe):
        a = A[s : s + stripe]
        ham = _popcount64(a.view(np.uint64)[:, None] ^ bu[None, :])
        mask = ham <= radius
        if diag:
            ii = np.arange(s, s + len(a))
            mask &= ii[:, None] < np.arange(len(B))[None, :]
        ai, bi = np.nonzero(mask)
        ai_all.append(ai + s)
        bi_all.append(bi)
        ham_all.append(ham[ai, bi].astype(np.int64))
    if not ai_all:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, empty
    return (np.concatenate(ai_all), np.concatenate(bi_all),
            np.concatenate(ham_all))


def _close_pairs_tiles(src: DataFrame, radius: int, n_sk: int) -> DataFrame:
    """EXACT (sk_a, sk_b, hamming) pairs over distinct sketches via
    tiled vectorized XOR/popcount — the S < ``KEY_JOIN_MIN_SKETCHES``
    side of the dispatch. Identical output contract
    to the key-join form: sk_a < sk_b (signed), 0 < hamming <= radius."""
    import numpy as np
    import pandas as pd

    r = int(radius)

    def kernel(pdf, a_idx, b_idx, diag):
        sk = pdf["sketch"].to_numpy(dtype=np.int64)
        A, B = sk[a_idx], sk[b_idx]
        ai, bi, ham = _close_positions(A, B, diag, r)
        xa, xb = A[ai], B[bi]
        return pd.DataFrame(
            {"sk_a": np.minimum(xa, xb), "sk_b": np.maximum(xa, xb),
             "hamming": ham}
        )

    return _tile_pairs(src, n_sk, kernel, "sk_a long, sk_b long, hamming long")


def _forest_edges_tiles(src: DataFrame, radius: int, n_sk: int) -> DataFrame:
    """Connectivity-preserving SUBSET of the close-pair graph over
    distinct sketches, via the same tiling: each tile computes its
    local close pairs, contracts them to connected components with
    vectorized min-label propagation + pointer jumping, and emits one
    root->member star edge per non-root node (<= nodes-1 edges per
    tile instead of up to nodes^2/2 pairs).

    The union over tiles of each tile-subgraph's spanning structure has
    exactly the same connected components as the union of all close
    pairs (a spanning forest preserves its subgraph's connectivity, and
    global connectivity is the transitive closure of the tile
    subgraphs' union) — so a CC consumer gets identical clusters from
    ~B x nodes edges instead of the full quadratic-in-family pair set.
    Measured at sf1.0: 18.5M close sketch pairs contract to < 1M forest
    edges before ``connected_components`` ever sees them.

    Output: (sk_a, sk_b), sk_a < sk_b (signed).
    """
    import numpy as np
    import pandas as pd

    r = int(radius)

    def kernel(pdf, a_idx, b_idx, diag):
        sk = pdf["sketch"].to_numpy(dtype=np.int64)
        A, B = sk[a_idx], sk[b_idx]
        ai, bi, _ = _close_positions(A, B, diag, r)
        # local close pairs as node indices into the tile's node list
        nodes = A if diag else np.concatenate([A, B])
        if not diag:
            bi = bi + len(A)
        lab = _np_min_label_components(nodes, ai, bi, np)
        member = np.nonzero(lab != np.arange(len(nodes)))[0]
        xa, xb = nodes[lab[member]], nodes[member]
        return pd.DataFrame(
            {"sk_a": np.minimum(xa, xb), "sk_b": np.maximum(xa, xb)}
        )

    return _tile_pairs(src, n_sk, kernel, "sk_a long, sk_b long")


def _close_sketch_pairs(
    sig: DataFrame, radius: int, forest: bool = False
) -> DataFrame:
    """(sk_a, sk_b, hamming) over DISTINCT sketches, sk_a < sk_b,
    0 < hamming <= radius. ``sig`` must expose a ``sketch`` column and
    be materialized by the caller.

    ``forest=True`` (connected-components consumers only) lets the tile
    kernel emit the union of its per-tile spanning forests instead of
    every close pair — same components, orders of magnitude fewer edge
    rows on clustered corpora, but neither a star per component nor
    free of chains across tiles: the caller's ``connected_components``
    does the global labelling. The returned frame then has no
    ``hamming`` column on the tile path."""
    # the dispatch reads the distinct-sketch count (one cheap
    # fixed-width count job, AQE-style runtime stats); the distinct
    # frame is materialized and reused by whichever kernel runs
    src = sig.select("sketch").distinct().localCheckpoint(eager=False)
    n_sk = src.count()
    scheme = _key_scheme(radius, n_sk)
    if scheme is None:
        if forest:
            return _forest_edges_tiles(src, radius, n_sk)
        return _close_pairs_tiles(src, radius, n_sk)
    _, cap = scheme
    keys = sketch_keys(src, radius, sketch_col="sketch")
    key = ["key_id", "key_val"]
    if cap is not None:
        # the result just became approximate — make that loud on the
        # driver, not only in hamming_key_stats
        msg = (
            f"hamming key join capped: {n_sk} distinct sketches >= "
            f"{KEY_JOIN_MIN_SKETCHES} at radius {radius} — per-key "
            f"groups capped at {cap}; pairs whose only agreeing block "
            "combination was a capped key are dropped. Audit drops with "
            "hamming_key_stats()."
        )
        warnings.warn(msg, HammingAutoCapWarning, stacklevel=4)
        _LOG.warning(msg)
        keys = keys.localCheckpoint(eager=False)  # scanned twice below
        hot = hot_keys(keys, key, cap, "group_size")
        keys = kept_given_hot(keys, hot, key, "sketch", cap, "group_size")
    # a self-join scans its input twice; materialize the tiny distinct
    # sketch->key table instead of recomputing the upstream lineage
    keys = keys.localCheckpoint(eager=False)
    cand = key_pairs(keys, key, "sketch", "sk_a", "sk_b")
    return cand.withColumn(
        "hamming",
        hamming_distance_col(F.col("sk_a"), F.col("sk_b")).cast("long"),
    ).filter(F.col("hamming") <= radius)


def _validate_radius(radius: int) -> None:
    if not 0 <= radius <= 31:
        # radius >= 32 means "more than half the bits differ" — beyond
        # any duplicate semantics — and single-bit blocks degenerate
        # (width 0 at r>=64 would silently turn the candidate equi-join
        # into a disguised cross join)
        raise ValueError(
            f"hamming radius {radius} out of range [0, 31]: pigeonhole "
            "blocking degenerates (and the result would be meaningless "
            "for 64-bit sketches anyway)"
        )


def hamming_pairs(
    sketches: DataFrame,
    radius: int = 10,
    id_col: str = "doc_id",
    sketch_col: str = "simhash",
) -> DataFrame:
    """Pairs of rows within ``radius`` Hamming distance on a 64-bit
    sketch column (see module docstring for the dispatch). EXACT below
    ``KEY_JOIN_MIN_SKETCHES`` (50,000) distinct sketches, where the
    tiled popcount kernel runs, and at radius <= 5 at any size. From
    50,000 distinct sketches at radius >= 6 the m=2 key join caps
    per-key groups at ``AUTO_MAX_KEY_GROUP`` (with a
    ``HammingAutoCapWarning`` on the driver): true pairs whose only
    agreeing block combination was a capped key are dropped, and
    ``hamming_key_stats`` lists the capped keys. No cartesian product
    in the plan on either path.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b,
    hamming = bit_count(sketch_a XOR sketch_b) <= radius.

    The output is quadratic in the size of a doc family sharing one
    sketch (all same-sketch pairs are emitted — that IS the requested
    result). A connected-components consumer should call
    ``hamming_edges`` instead, which stays linear per family.
    """
    _validate_radius(radius)
    sig = sketches.select(F.col(id_col).alias("_id"),
                          F.col(sketch_col).alias("sketch"))
    # the sketch table is consumed five times below (key explode, two
    # doc-mapping joins, two same-sketch join sides); without a
    # materialization each consumer re-runs the upstream sketch
    # computation (measured 3x wall on the portable-simhash caller)
    sig = sig.localCheckpoint(eager=False)
    close = _close_sketch_pairs(sig, radius)

    # map sketch pairs back to document pairs (sk_a != sk_b, so each
    # unordered doc pair appears exactly once; normalize by id)
    diff = (
        close.join(sig.select(F.col("_id").alias("id_a"),
                              F.col("sketch").alias("sk_a")), on="sk_a")
        .join(sig.select(F.col("_id").alias("id_b"),
                         F.col("sketch").alias("sk_b")), on="sk_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )
    # same-sketch doc pairs: hamming 0, never seen by either kernel
    same = (
        sig.alias("p")
        .join(sig.alias("q"), on="sketch")
        .filter(F.col("p._id") < F.col("q._id"))
        .select(
            F.col("p._id").alias("doc_a"),
            F.col("q._id").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return diff.union(same)


def hamming_edges(
    sketches: DataFrame,
    radius: int = 10,
    id_col: str = "doc_id",
    sketch_col: str = "simhash",
) -> DataFrame:
    """Bounded edge set for a connected-components consumer: yields the
    SAME components as ``hamming_pairs`` (cluster parity is pytest-
    pinned) without any same-key quadratic emission, under the same
    dispatch — exact below ``KEY_JOIN_MIN_SKETCHES`` distinct sketches
    or at radius <= 5, capped key join (``HammingAutoCapWarning``)
    beyond.

    Per distinct sketch, docs sharing it form a star rep->member
    (rep = min doc id); each close sketch pair — on the tile path, each
    edge of the per-tile spanning forest — contributes exactly ONE
    rep_a->rep_b edge. |edges| <= (docs in >=2-doc sketch groups) +
    (close sketch pairs) — linear per family, vs O(family^2) for the
    all-pairs form.

    Output: (src, dst) with src < dst.
    """
    _validate_radius(radius)
    sig = sketches.select(F.col(id_col).alias("_id"),
                          F.col(sketch_col).alias("sketch"))
    sig = sig.localCheckpoint(eager=False)
    reps = sig.groupBy("sketch").agg(F.min("_id").alias("rep_id"))
    reps = reps.localCheckpoint(eager=False)
    # a CC consumer needs connectivity, not every pair: the tile path
    # emits a per-tile spanning forest (same components, ~B x sketches
    # edges instead of the full close-pair set)
    close = _close_sketch_pairs(sig, radius, forest=True)
    rep_edges = (
        close.join(reps.select(F.col("sketch").alias("sk_a"),
                               F.col("rep_id").alias("rep_a")), on="sk_a")
        .join(reps.select(F.col("sketch").alias("sk_b"),
                          F.col("rep_id").alias("rep_b")), on="sk_b")
        .select(F.least("rep_a", "rep_b").alias("src"),
                F.greatest("rep_a", "rep_b").alias("dst"))
    )
    star_edges = (
        sig.join(reps, on="sketch")
        .filter(F.col("_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("src"), F.col("_id").alias("dst"))
    )
    return rep_edges.union(star_edges)


def hamming_key_stats(
    sketches: DataFrame,
    radius: int = 10,
    sketch_col: str = "simhash",
) -> DataFrame:
    """Drop-accounting companion for ``hamming_pairs``/``hamming_edges``:
    one row per pigeonhole key of the scheme the pair operators use
    from ``KEY_JOIN_MIN_SKETCHES`` distinct sketches on,
    ``(key_id, key_val, group_size, capped)``. ``capped`` is true for
    the keys the m=2 per-key cap truncates, so a caller can audit
    exactly which keys lost pairs and how hot they were.

    Below the threshold the pair operators run the exact tiles and drop
    nothing; at radius <= 5 (m=1) nothing is capped. The frame is then
    a key-skew profile with every ``capped`` false.
    """
    _, cap = _key_scheme(radius, KEY_JOIN_MIN_SKETCHES)
    sizes = sketch_keys(sketches, radius, sketch_col=sketch_col).groupBy(
        "key_id", "key_val"
    ).agg(F.count("*").alias("group_size"))
    capped = F.lit(False) if cap is None else F.col("group_size") > cap
    return sizes.withColumn("capped", capped)
