"""Hamming-radius search via pigeonhole multi-block bit-chunk LSH.

Distributed replacement for the reference's BK-tree radius query over
64-bit sketches (ref: src/main/java/index/BKTreeIndex.java:34-50
``withinHamming`` — pointer-chasing DFS with triangle-inequality
pruning). The distributed formulation generalizes the pigeonhole
principle to combination keys (the shape of Manku/Jain/Das Sarma,
"Detecting Near-Duplicates for Web Crawling", WWW'07 §3):

  split the 64-bit sketch into B = radius + m disjoint bit blocks.
  A pair within Hamming distance ``radius`` has at most ``radius``
  differing bits, which can touch at most ``radius`` blocks, so AT
  LEAST m blocks are bit-identical in BOTH sketches. Enumerating all
  C(B, m) block combinations and equi-joining on
  (combo_id, packed combo value) therefore finds EVERY pair within
  the radius — exhaustive, no recall loss — and
  ``bit_count(a XOR b) <= radius`` verifies JVM-side
  (ref: hash/Hamming.java:4-6).

``m`` (``n_agree``) trades join-key selectivity against explode
fan-out:

- m=1 is classic single-chunk pigeonhole: radius+1 rows per sketch,
  but at radius 10 the chunks are 5-6 bits (<=64 distinct values per
  chunk), so with S distinct sketches each key holds ~S/64 rows and
  candidate generation degenerates toward O(S^2/64).
- m=2 at radius 10 gives 12 blocks, C(12,2)=66 combo rows per sketch
  with 10-12-bit packed keys: ~32x more key values per combo, so the
  expected candidate count drops ~5x on uniform sketches and far more
  on clustered real-world sketch distributions, for a 6x explode cost.
  The default picks m=2 whenever single chunks would be narrower than
  10 bits (radius >= 6).

Residual hot keys (e.g. an all-zero block pair across many sketches)
are bounded by an optional salted per-key cap with drop accounting
(``capped_sketch_keys``, mirroring operators/lsh.py
``kept_bands_given_hot``);
without the cap the operator is exact.

Scale shape:
- the combo join runs over DISTINCT sketch values, not documents — the
  dominant skew source (many docs sharing one sketch, e.g. boilerplate
  families) collapses to one row before the explode; same-sketch doc
  pairs are emitted by a separate cheap equi-join on the sketch;
- candidate dedup is a distinct() on sketch pairs (bounded by the
  verified output size x combo count, not by doc pairs);
- for a connected-components consumer, ``hamming_edges`` emits
  rep->member star edges per sketch group plus ONE rep-rep edge per
  close sketch pair — linear in (docs + close sketch pairs), never
  quadratic in group size, with identical components.

Works for ANY 64-bit sketch family (SimHash, the gradient-sign family
in functions/fingerprints.py, or an externally-computed pHash).

Round-6 kernel dispatch: the key join's raw output is Sum_key |group|^2
rows, which on CLUSTERED sketch corpora (near-dup families -> similar
sketches -> shared chunk values) explodes far past the uniform estimate
— measured 1.62e9 joined rows for 49.7k distinct sketches at sf1.0,
versus 18.5M true close pairs. In EXACT mode (no explicit ``n_agree``,
no engaged cap) at or below ``TILE_MAX_SKETCHES`` distinct sketches,
the operator therefore runs a tiled all-pairs XOR/popcount kernel
instead (``_close_pairs_tiles``: ``block_pair_tiles`` over the
distinct-sketch table, SWAR popcount, no join at all);
connected-components consumers additionally get a per-tile spanning
forest (``_forest_edges_tiles``) so the edge volume stays ~linear in
sketches. The pigeonhole key join remains the
dispersed/web-scale path, where the auto cap bounds it linearly.
"""

from __future__ import annotations

import logging
import warnings
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.functions.fingerprints import hamming_distance_col
from imageduplicatefinder_spark.operators.components import (
    _np_edge_components,
    _np_min_label_components,
)
from imageduplicatefinder_spark.operators.tiles import block_pair_tiles

_LOG = logging.getLogger(__name__)


class HammingAutoCapWarning(UserWarning):
    """Raised (as a warning) when ``max_key_group="auto"`` resolves to a
    real per-key cap, i.e. the result became approximate: per-key
    groups deeper than ``AUTO_MAX_KEY_GROUP`` were down-sampled and
    true pairs whose ONLY agreeing block combination was a capped key
    are dropped. Audit with ``hamming_key_stats``; pass
    ``max_key_group=None`` for exact mode at any scale."""


def _chunk_widths(bits: int, n_chunks: int) -> list[int]:
    base, rem = divmod(bits, n_chunks)
    return [base + 1] * rem + [base] * (n_chunks - rem)


#: distinct-sketch count above which the auto policy switches to m=2
#: block-pair keys. The two schemes trade OPPOSITE failure modes: with
#: S dispersed sketches, random chunk collisions cost ~0.203*S^2/2
#: candidates at m=1 vs ~0.04*S^2/2 at m=2 (5x less); but each TRUE
#: close pair (hamming<=10) duplicates into ~C(12-k,2)~45-66 combo
#: keys at m=2 vs ~11-k~9 chunks at m=1 (~5x more pre-distinct join
#: output). m=2 wins when S^2 collisions dominate true pairs —
#: measured: 4 971 clustered sketches (sf0.1) m=1 3.1 s vs m=2 8.1 s;
#: 64 k dispersed sketches m=1 416M candidates vs m=2 91M (BENCH.md
#: round 3). 50 000 puts the switch where the S^2 term dominates any
#: plausible true-pair density.
AUTO_M2_MIN_SKETCHES = 50_000

#: auto per-key cap policy (round-3 verdict: make the safe thing the
#: default). At radius >= _AUTO_CAP_MIN_RADIUS the packed combo keys
#: are narrow enough that DISPERSED sketch corpora go near-quadratic
#: even at m=2 (uniform 64-bit sketches: ~91M candidates at 64k, x~19
#: at 256k — BENCH.md round 3); with a per-key cap candidates are
#:   <= S * C(radius+m, m) * cap   — LINEAR in S
#: (measured: cap 32 gives growth exponent 0.211 at 64k->256k, 45.0M ->
#: 60.3M candidates, while cap 128 barely engages — uniform m=2 key
#: groups at 256k run 62-250 deep, so 128 leaves the quadratic mostly
#: intact at exponent 1.53; BENCH.md rounds 3-4, "Bounded radius-10
#: Hamming plan"). The cap engages only past AUTO_CAP_MIN_SKETCHES
#: distinct sketches, so small and clustered corpora — where every key
#: group is tiny and the cap would never trigger anyway — skip the
#: group-size pass entirely and keep byte-identical exact results (the
#: driver-scale hash-matches are unaffected; pinned by
#: test_hamming_auto_cap_*). Exact mode at any scale stays one explicit
#: ``max_key_group=None`` away, and ``hamming_key_stats`` surfaces
#: exactly which keys a cap truncated.
AUTO_CAP_MIN_SKETCHES = 50_000
AUTO_MAX_KEY_GROUP = 32
_AUTO_CAP_MIN_RADIUS = 6

#: distinct-sketch count at or below which the EXACT tiled all-pairs
#: XOR/popcount kernel replaces the pigeonhole key join (auto policy
#: only — explicit ``n_agree`` pins the key scheme, an engaged cap pins
#: the capped key scheme). Rationale (guide §1.1 first-principles +
#: measured): the key join's raw output is Sum_key |group|^2 JVM rows —
#: 1.62e9 rows for the 49.7k CLUSTERED sketches at sf1.0 (m=1), ~20 s
#: just to enumerate — while S^2/2 vectorized popcounts for the same S
#: are ~1.2e9 SIMD lane-ops spread over B(B+1)/2 numpy tiles, ~2 s at
#: local[32]. The join only wins once S^2 popcounts dwarf the true-pair
#: candidate volume (dispersed corpora with S in the millions — where
#: the auto CAP engages anyway and keeps the key join bounded). At the
#: threshold, S^2/2 = 3.4e10 popcounts ~ a few seconds of cluster time;
#: beyond it the capped key join's LINEAR candidate bound takes over.
TILE_MAX_SKETCHES = 262_144
#: target rows per tile block (tile = ~2 blocks -> xor temp stripes
#: stay tens of MB; B(B+1)/2 tasks comfortably oversubscribe any core
#: count reached at this S)
_TILE_BLOCK_ROWS = 3072


def _auto_max_key_group(radius: int, n_sketches: int | None) -> int | None:
    """Resolve the ``max_key_group="auto"`` sentinel: the measured cap
    for wide radii on large dispersed corpora, exact everywhere else."""
    if radius < _AUTO_CAP_MIN_RADIUS or n_sketches is None:
        return None
    if n_sketches < AUTO_CAP_MIN_SKETCHES:
        return None
    return AUTO_MAX_KEY_GROUP


def _auto_n_agree(radius: int, n_sketches: int | None = None) -> int:
    # single chunks of >=10 bits (radius <= 5) are selective enough on
    # their own; narrower chunks get pair-combination keys — but only
    # once the corpus is large enough that dispersed-pair collisions
    # (the S^2 term) dominate close-pair key duplication (see above)
    if 64 // (radius + 1) >= 10:
        return 1
    if n_sketches is not None and n_sketches < AUTO_M2_MIN_SKETCHES:
        return 1
    return 2


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
    n_agree: int | None = None,
    sketch_col: str = "simhash",
    n_sketches: int | None = None,
) -> DataFrame:
    """(sketch, key_id, key_val) for the C(radius+m, m) pigeonhole
    block-combination keys of each DISTINCT sketch value.

    ``key_val`` packs the m block values of the combination into one
    long (total packed width <= 64 bits since the blocks partition the
    sketch, so packing is collision-free). ``n_sketches`` (the distinct
    sketch count, if the caller knows it) steers the auto m policy —
    see ``AUTO_M2_MIN_SKETCHES``.
    """
    m = _auto_n_agree(radius, n_sketches) if n_agree is None else n_agree
    if m < 1:
        raise ValueError(f"n_agree must be >= 1, got {m}")
    n_blocks = radius + m
    if n_blocks > 64:
        raise ValueError(
            f"radius + n_agree = {n_blocks} exceeds 64: blocks would be "
            "empty and the join would silently lose recall"
        )
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


def capped_sketch_keys(
    keys: DataFrame, max_key_group: int
) -> tuple[DataFrame, DataFrame]:
    """Salted deterministic per-key cap with drop accounting, mirroring
    operators/lsh.py ``hot_band_stats`` + ``kept_bands_given_hot``.
    Returns (kept_keys, key_stats).

    Sketches in a (key_id, key_val) group larger than ``max_key_group``
    are down-sampled by a deterministic hash threshold — map-side after
    a broadcast-able hot-key join, so a mega-key never serializes onto
    one task. Capping trades exactness for a hard candidate bound:
    a capped group loses only candidates whose ONLY agreeing block
    combination was the capped key; key_stats
    (key_id, key_val, group_size, capped) makes the drop visible.
    """
    keys = keys.localCheckpoint(eager=False)  # scanned twice below
    sizes = keys.groupBy("key_id", "key_val").agg(
        F.count("*").alias("group_size")
    )
    stats = sizes.withColumn("capped", F.col("group_size") > max_key_group)
    hot = sizes.filter(F.col("group_size") > max_key_group)
    salted = keys.join(hot, on=["key_id", "key_val"], how="left")
    kept = salted.filter(
        F.col("group_size").isNull()
        | (
            F.pmod(F.xxhash64("sketch", "key_id", "key_val"),
                   F.col("group_size"))
            < F.lit(max_key_group)
        )
    ).select("sketch", "key_id", "key_val")
    return kept, stats


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
    tiled vectorized XOR/popcount — the clustered/moderate-S regime of
    the dispatch (see ``TILE_MAX_SKETCHES``). Identical output contract
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
    edges before the CC rounds ever shuffle them.

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


def _contract_forest(forest: DataFrame) -> DataFrame:
    """Collapse the union of per-tile spanning forests to ONE star per
    connected component (root = component-min sketch value): a single
    bounded reduce, so a downstream distributed CC converges in O(1)
    rounds instead of O(cross-tile chain depth).

    Boundedness: the input is the tile forests — at most
    ``sum_tiles (nodes_in_tile - 1) <= 2 * n_blocks * S`` edges of two
    longs, and the tile dispatch caps S at ``TILE_MAX_SKETCHES``, so
    the single task tops out at a few hundred MB even at the dispatch
    boundary (12 MB at the sf1.0 bench). This is the same
    bounded-single-pass reasoning as the guarded driver collects, run
    executor-side; beyond the cap the pigeonhole path never reaches
    this operator."""
    import numpy as np
    import pandas as pd

    def run(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            yield pd.DataFrame(columns=["sk_a", "sk_b"])
            return
        a = np.concatenate([c["sk_a"].to_numpy(dtype=np.int64)
                            for c in chunks])
        b = np.concatenate([c["sk_b"].to_numpy(dtype=np.int64)
                            for c in chunks])
        nodes, lab = _np_edge_components(a, b, np)
        member = np.nonzero(lab != np.arange(len(nodes)))[0]
        # np.unique sorts ascending, so the min label index IS the min
        # signed sketch value: sk_a < sk_b holds by construction
        yield pd.DataFrame(
            {"sk_a": nodes[lab[member]], "sk_b": nodes[member]}
        )

    # repartition (NOT coalesce): coalesce(1) would propagate the
    # single-partition constraint upstream and serialize the tile
    # stage itself; the exchange keeps tiles parallel and moves only
    # the forest rows
    return forest.repartition(1).mapInPandas(run, "sk_a long, sk_b long")


def _close_sketch_pairs(
    sig: DataFrame,
    radius: int,
    n_agree: int | None,
    max_key_group: int | str | None,
    forest: bool = False,
) -> DataFrame:
    """(sk_a, sk_b, hamming) over DISTINCT sketches, sk_a < sk_b,
    0 < hamming <= radius. ``sig`` must expose a ``sketch`` column and
    be materialized by the caller. ``max_key_group`` accepts the
    ``"auto"`` sentinel (see ``_auto_max_key_group``).

    ``forest=True`` (connected-components consumers only) lets the tile
    kernel emit a connectivity-preserving spanning subset instead of
    every close pair — same components, orders of magnitude fewer edge
    rows on clustered corpora; the returned frame then has no
    ``hamming`` column on the tile path."""
    n_sk = None
    src = sig
    # the tile dispatch, the auto m policy and the auto-cap policy all
    # need the distinct-sketch count (one cheap fixed-width count job,
    # AQE-style runtime stats); the distinct frame is materialized and
    # reused by whichever kernel wins the dispatch
    need_count = n_agree is None or (
        max_key_group == "auto" and radius >= _AUTO_CAP_MIN_RADIUS
    )
    if need_count:
        src = sig.select("sketch").distinct().localCheckpoint(eager=False)
        n_sk = src.count()
    if max_key_group == "auto":
        max_key_group = _auto_max_key_group(radius, n_sk)
        if max_key_group is not None:
            # the result just became approximate — make that loud on the
            # driver (ADVICE r4: the silent exact->approximate flip past
            # AUTO_CAP_MIN_SKETCHES had no runtime signal)
            msg = (
                f"hamming auto cap engaged: {n_sk} distinct sketches >= "
                f"{AUTO_CAP_MIN_SKETCHES} at radius {radius} — per-key "
                f"groups capped at {max_key_group}; pairs whose only "
                "agreeing block combination was a capped key are dropped. "
                "Pass max_key_group=None for exact mode; audit drops with "
                "hamming_key_stats()."
            )
            warnings.warn(msg, HammingAutoCapWarning, stacklevel=4)
            _LOG.warning(msg)
    # kernel dispatch: EXACT mode at moderate distinct-sketch counts
    # runs the tiled all-pairs popcount kernel (clustered sketches make
    # the key join's Sum|group|^2 row enumeration the bottleneck —
    # see TILE_MAX_SKETCHES); an explicit n_agree pins the key scheme,
    # and an engaged cap keeps the capped key scheme (its approximate
    # semantics are part of that regime's contract)
    if (
        n_agree is None
        and max_key_group is None
        and n_sk is not None
        and n_sk <= TILE_MAX_SKETCHES
    ):
        if forest:
            return _contract_forest(_forest_edges_tiles(src, radius, n_sk))
        return _close_pairs_tiles(src, radius, n_sk)
    keys = sketch_keys(src, radius, n_agree=n_agree, sketch_col="sketch",
                       n_sketches=n_sk)
    if max_key_group is not None:
        keys, _ = capped_sketch_keys(keys, max_key_group)
    # a self-join scans its input twice; materialize the tiny distinct
    # sketch->key table instead of recomputing the upstream lineage
    keys = keys.localCheckpoint(eager=False)
    cand = (
        keys.select("key_id", "key_val", F.col("sketch").alias("sk_a"))
        .join(
            keys.select("key_id", "key_val", F.col("sketch").alias("sk_b")),
            on=["key_id", "key_val"],
        )
        .filter(F.col("sk_a") < F.col("sk_b"))
        .select("sk_a", "sk_b")
        .distinct()
    )
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
    n_agree: int | None = None,
    max_key_group: int | str | None = "auto",
) -> DataFrame:
    """Pairs of rows within ``radius`` Hamming distance on a 64-bit
    sketch column (pigeonhole multi-block LSH, see module docstring).
    EXACT below ``AUTO_CAP_MIN_SKETCHES`` (50k) distinct sketches or
    radius < 6; APPROXIMATE beyond under the default
    ``max_key_group="auto"`` — a per-key cap of ``AUTO_MAX_KEY_GROUP``
    engages (with a ``HammingAutoCapWarning`` on the driver) and true
    pairs whose only agreeing block combination was a capped key are
    dropped. No cartesian product in the plan at any setting.

    In exact mode at <= ``TILE_MAX_SKETCHES`` distinct sketches the
    candidate kernel is the tiled all-pairs popcount (module
    docstring) — same output, no key join. The auto cap bounds the
    dispersed-corpus near-quadratic at wide radii without the caller
    needing to know the failure mode. Pass ``None`` for exact mode at
    any scale, an int for an explicit cap; audit what a cap truncated
    with ``hamming_key_stats``.

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
    close = _close_sketch_pairs(sig, radius, n_agree, max_key_group)

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
    # same-sketch doc pairs: hamming 0, never seen by the key join
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
    n_agree: int | None = None,
    max_key_group: int | str | None = "auto",
) -> DataFrame:
    """Bounded edge set for a connected-components consumer: yields the
    SAME components as ``hamming_pairs`` (cluster parity is pytest-
    pinned) without any same-key quadratic emission. Like
    ``hamming_pairs``, EXACT below ``AUTO_CAP_MIN_SKETCHES`` distinct
    sketches or radius < 6, APPROXIMATE beyond under the default
    ``max_key_group="auto"`` (driver ``HammingAutoCapWarning`` when the
    cap engages; ``None`` for exact mode at any scale).

    Per distinct sketch, docs sharing it form a star rep->member
    (rep = min doc id); each close sketch pair contributes exactly ONE
    rep_a->rep_b edge. |edges| = (docs in >=2-doc sketch groups) +
    (close sketch pairs) — linear per family, vs O(family^2) for the
    all-pairs form.

    ``max_key_group`` follows the same ``"auto"`` policy as
    ``hamming_pairs``.

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
    close = _close_sketch_pairs(sig, radius, n_agree, max_key_group,
                                forest=True)
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
    n_agree: int | None = None,
    max_key_group: int | str | None = "auto",
) -> DataFrame:
    """Drop-accounting companion for ``hamming_pairs``/``hamming_edges``
    under a (possibly auto-resolved) per-key cap: one row per pigeonhole
    key, ``(key_id, key_val, group_size, capped)``, under the SAME
    m/cap policy the pair operators would resolve for this input — so a
    caller can audit exactly which keys a cap truncated (``capped``
    true) and how hot they were before deciding whether exact mode
    (``max_key_group=None``) is worth the quadratic.

    When the resolved policy is "no cap" every ``capped`` is false and
    the frame is still useful as a key-skew profile.
    """
    _validate_radius(radius)
    src = (
        sketches.select(F.col(sketch_col).alias("sketch"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_sk = src.count()
    if max_key_group == "auto":
        max_key_group = _auto_max_key_group(radius, n_sk)
    keys = sketch_keys(src, radius, n_agree=n_agree, sketch_col="sketch",
                       n_sketches=n_sk)
    if max_key_group is None:
        return keys.groupBy("key_id", "key_val").agg(
            F.count("*").alias("group_size")
        ).withColumn("capped", F.lit(False))
    _, stats = capped_sketch_keys(keys, max_key_group)
    return stats
