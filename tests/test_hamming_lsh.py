"""Hamming-radius search: exhaustiveness vs brute force on both
physical forms — the exact tiles and the pigeonhole key join, forced by
setting ``KEY_JOIN_MIN_SKETCHES`` to 0 (the distributed form of the
reference's BK-tree radius query,
ref: src/main/java/index/BKTreeIndex.java:34-50)."""

import random
import warnings
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from imageduplicatefinder_spark.functions.fingerprints import hamming_distance_col
from imageduplicatefinder_spark.operators import components
from imageduplicatefinder_spark.operators import hamming_lsh as H
from imageduplicatefinder_spark.operators.components import connected_components
from imageduplicatefinder_spark.operators.lsh import hot_keys, kept_given_hot
from imageduplicatefinder_spark.operators.hamming_lsh import (
    _auto_n_agree,
    _chunk_widths,
    _key_scheme,
    hamming_edges,
    hamming_key_stats,
    hamming_pairs,
    sketch_keys,
)


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.hamming) for r in df.collect()}


def _ran_tiles(df) -> bool:
    """The tile kernel is the only applyInPandas in either form."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "FlatMapGroupsInPandas" in plan


def _cap_warnings(caught):
    return [w for w in caught
            if issubclass(w.category, H.HammingAutoCapWarning)]


def _brute(spark, df, radius):
    a = df.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = df.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    return {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", hamming_distance_col(F.col("sa"), F.col("sb")).cast("long")
        )
        .filter(F.col("hamming") <= radius)
        .collect()
    }


def _components(edges):
    """The connected components of ``edges`` as a set of frozensets."""
    by_cluster = {}
    for r in connected_components(edges).collect():
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    return {frozenset(v) for v in by_cluster.values()}


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


@pytest.fixture(scope="module")
def sketches(spark):
    """Random sketches plus planted near-misses: clones of a base with
    exactly r bits flipped for r in 0..12 (covers <=, ==, > radius)."""
    rng = random.Random(1234)
    rows = [(i, _to_signed(rng.getrandbits(64))) for i in range(120)]
    base = rng.getrandbits(64)
    nid = 1000
    for r in range(13):
        flipped = base
        for pos in rng.sample(range(64), r):
            flipped ^= 1 << pos
        rows.append((nid, _to_signed(flipped)))
        nid += 1
    # exact sketch duplicates (the same-sketch fast path)
    rows.append((2000, _to_signed(base)))
    rows.append((2001, _to_signed(base)))
    return spark.createDataFrame(rows, "doc_id long, simhash long")


def test_chunk_widths_cover_64_bits():
    for radius in (0, 1, 3, 10, 31):
        w = _chunk_widths(64, radius + 1)
        assert sum(w) == 64 and len(w) == radius + 1
        assert max(w) - min(w) <= 1


@pytest.mark.parametrize("radius", [0, 3, 10])
def test_hamming_pairs_equals_brute_force(spark, sketches, radius,
                                          monkeypatch):
    """Both physical forms find exactly the brute-force pair set: the
    tiles by default (135 sketches), the key join when forced. At
    radius 10 the forced key join is the m=2 scheme with its cap of 32
    engaged (warned), which truncates no key group of this fixture."""
    brute = _brute(spark, sketches, radius)
    tiles = hamming_pairs(sketches, radius=radius)
    assert _ran_tiles(tiles)
    assert _pairs(tiles) == brute

    monkeypatch.setattr(H, "KEY_JOIN_MIN_SKETCHES", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        keys = hamming_pairs(sketches, radius=radius)
    assert not _ran_tiles(keys)
    assert bool(_cap_warnings(caught)) == (radius == 10)
    if radius == 10:
        stats = hamming_key_stats(sketches, radius=10)
        assert stats.filter(F.col("capped")).count() == 0
        assert stats.agg(F.max("group_size")).collect()[0][0] <= 32
    assert _pairs(keys) == brute


@pytest.mark.parametrize("radius,n_agree", [(10, 2), (3, 2)])
def test_multi_block_keys_stay_exhaustive(spark, sketches, radius, n_agree,
                                          monkeypatch):
    """Manku-style C(radius+m, m) combination keys find exactly the
    brute-force pair set at m=2, including at a radius whose policy
    would pick m=1 (the pigeonhole guarantee holds for any m)."""
    monkeypatch.setattr(H, "KEY_JOIN_MIN_SKETCHES", 0)
    monkeypatch.setattr(H, "_auto_n_agree", lambda r: n_agree)
    with warnings.catch_warnings():
        # m=2 engages the (non-truncating) cap on this fixture
        warnings.simplefilter("ignore", H.HammingAutoCapWarning)
        got = _pairs(hamming_pairs(sketches, radius=radius))
    assert got == _brute(spark, sketches, radius)


def test_auto_n_agree_policy():
    # single chunks stay selective (>=10 bits) up to radius 5
    assert all(_auto_n_agree(r) == 1 for r in range(6))
    # narrower chunks get block-pair keys
    assert all(_auto_n_agree(r) == 2 for r in range(6, 32))


def _previous_rule(radius, n_sketches):
    """The four-constant dispatch this rule replaced, written out:
    "auto" cap at radius >= 6 from 50,000 sketches, tiles when uncapped
    up to 262,144 sketches, m=2 only for narrow chunks at >= 50,000."""
    cap = 32 if radius >= 6 and n_sketches >= 50_000 else None
    if cap is None and n_sketches <= 262_144:
        return None
    narrow = 64 // (radius + 1) < 10
    return (2 if narrow and n_sketches >= 50_000 else 1), cap


def test_dispatch_policy_at_the_threshold():
    """One rule: tiles below 50,000 distinct sketches; at and above, the
    key join with m from the radius and the cap only at m=2."""
    for radius in (5, 6, 10):
        assert _key_scheme(radius, 49_999) is None
    assert _key_scheme(5, 50_000) == (1, None)
    assert _key_scheme(6, 50_000) == (2, 32)
    assert _key_scheme(10, 50_000) == (2, 32)
    # at radius >= 6 the path, m and cap are what the replaced
    # four-constant rule picked, at every size
    for radius in range(6, 32):
        for n in (0, 1, 49_999, 50_000, 262_144, 262_145, 10**9):
            assert _key_scheme(radius, n) == _previous_rule(radius, n)


def test_multi_block_keys_are_more_selective(spark, sketches):
    """The point of m=2 at radius 10: far more distinct join-key values
    than the <=64 a 5-6-bit single chunk can hold."""
    assert _auto_n_agree(10) == 2
    k2 = sketch_keys(sketches, 10, sketch_col="simhash")
    # m=2 packed keys are 10-12 bits -> far beyond 64 possible values;
    # on this corpus nearly every sketch gets a unique value per combo
    n_sketches = sketches.select("simhash").distinct().count()
    v2 = k2.groupBy("key_id").agg(
        F.count_distinct("key_val").alias("v")).agg(F.min("v")).collect()[0][0]
    assert v2 > 64 or v2 >= n_sketches * 0.9


def _capped_keys(keys, cap):
    """The key join's cap (operators/lsh.py): (kept keys, hot keys)."""
    key = ["key_id", "key_val"]
    hot = hot_keys(keys, key, cap, "group_size")
    return kept_given_hot(keys, hot, key, "sketch", cap, "group_size"), hot


def test_capped_sketch_keys_accounting(spark):
    """A mega-key gets down-sampled to ~cap with capped=true stats, and
    hamming_key_stats lists exactly the keys the key join's cap hits."""
    # 200 sketches that all share block pattern 0 in the low bits would
    # be contrived; instead cap aggressively so every key is hot
    rows = [(i, i << 40) for i in range(50)]  # low 40 bits identical (0)
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    keys = sketch_keys(df, 10, sketch_col="simhash")  # m=2
    kept, hot = _capped_keys(keys, 5)
    # low-bit block combos are shared by all 50 sketches
    assert hot.count() > 0 and hot.filter(~F.col("capped")).count() == 0
    # kept size per hot key is ~cap (salted threshold keeps ~cap rows)
    per_key = (
        kept.groupBy("key_id", "key_val").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert per_key <= 15  # ~5 expected, deterministic hash variance bound
    # determinism: same input -> same kept set
    kept2, _ = _capped_keys(keys, 5)
    assert sorted(map(tuple, kept.collect())) == sorted(
        map(tuple, kept2.collect()))
    # the public accounting: capped rows == the key join's hot set
    _, hot32 = _capped_keys(keys, H.AUTO_MAX_KEY_GROUP)
    stats = hamming_key_stats(df, 10).filter(F.col("capped"))
    cols = ["key_id", "key_val", "group_size"]
    assert sorted(map(tuple, stats.select(cols).collect())) == sorted(
        map(tuple, hot32.select(cols).collect()))
    assert hot32.count() > 0


def test_hamming_edges_cluster_parity(spark, sketches, monkeypatch):
    """Star-edge emission yields the SAME connected components as the
    all-pairs form on both paths (tile spanning forest by default, the
    key join when forced), with linear (not quadratic) same-sketch
    output."""
    pairs = hamming_pairs(sketches, radius=10).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = hamming_edges(sketches, radius=10)
    assert _ran_tiles(edges)

    expected = _components(pairs)
    assert _components(edges) == expected
    # the 3-doc same-sketch family (base + 2000 + 2001) emits 3 pairs
    # in the all-pairs form but only 2 star edges here
    n_same_pairs = pairs.join(
        edges, on=["src", "dst"], how="left_anti").count()
    assert edges.count() < pairs.count() or n_same_pairs == 0

    monkeypatch.setattr(H, "KEY_JOIN_MIN_SKETCHES", 0)
    with pytest.warns(H.HammingAutoCapWarning):
        key_edges = hamming_edges(sketches, radius=10)
    assert not _ran_tiles(key_edges)
    assert _components(key_edges) == expected


@pytest.mark.parametrize("driver_pass", [True, False])
def test_hamming_edges_multi_tile_forests(spark, monkeypatch, driver_pass):
    """With 16-sketch tile blocks the forests of at least 9 blocks are
    unioned: chains of 5-bit steps cross tiles, so only the consumer's
    connected components join them. hamming_edges -> CC must give the
    components of hamming_pairs -> CC and of a plain-Python brute force,
    on the CC driver pass and on the forced star-contraction rounds."""
    rng = random.Random(77)
    sks = [rng.getrandbits(64) for _ in range(80)]
    for _ in range(3):
        cur = rng.getrandbits(64)
        for _ in range(20):
            for pos in rng.sample(range(64), 5):
                cur ^= 1 << pos
            sks.append(cur)
    ids = list(range(len(sks)))
    # a same-sketch pair on a chain member and on a background sketch
    sks += [sks[90], sks[7]]
    ids += [500, 501]
    radius = 10
    n_sk = len(set(sks))
    monkeypatch.setattr(H, "_TILE_BLOCK_ROWS", 16)
    assert -(-n_sk // 16) >= 9
    if not driver_pass:
        monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for i, j in combinations(range(len(sks)), 2):
        if bin(sks[i] ^ sks[j]).count("1") <= radius:
            parent[find(ids[i])] = find(ids[j])
    brute = {}
    for x in list(parent):
        brute.setdefault(find(x), set()).add(x)
    brute = {frozenset(v) for v in brute.values()}
    assert any(len(c) >= 20 for c in brute)

    df = spark.createDataFrame(
        [(i, _to_signed(s)) for i, s in zip(ids, sks)],
        "doc_id long, simhash long",
    )

    edges = hamming_edges(df, radius=radius)
    assert _ran_tiles(edges)
    pairs = hamming_pairs(df, radius=radius).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    assert _components(edges) == _components(pairs) == brute


@pytest.mark.parametrize("m", [1, 2])
def test_hamming_pairs_plan_has_no_cartesian(spark, sketches, m,
                                             monkeypatch):
    """Neither physical form plans a cartesian product: the tiles, and
    the forced key join under each key scheme (m=1 at radius 3, m=2 at
    radius 10)."""
    radius = 3 if m == 1 else 10
    assert _auto_n_agree(radius) == m
    tiles = hamming_pairs(sketches, radius=radius)
    monkeypatch.setattr(H, "KEY_JOIN_MIN_SKETCHES", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", H.HammingAutoCapWarning)
        keys = hamming_pairs(sketches, radius=radius)
    assert _ran_tiles(tiles) and not _ran_tiles(keys)
    for df in (tiles, keys):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_hamming_auto_cap_inert_below_threshold(spark, sketches):
    """Below KEY_JOIN_MIN_SKETCHES no cap exists: the search runs the
    exact tiles, stays silent and equals brute force at radius 10 (the
    driver-scale hash-matches depend on this)."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        below = hamming_pairs(sketches, radius=10)
    assert not _cap_warnings(caught), "no-cap dispatch must stay silent"
    assert _ran_tiles(below)
    assert _pairs(below) == _brute(spark, sketches, 10)


def test_hamming_auto_cap_engages_at_scale(spark, sketches, monkeypatch):
    """Past the (monkeypatched) threshold the m=2 key join (radius 10)
    must cap hot keys: the capped result is a SUBSET of brute force,
    every surviving pair is within radius, the driver is warned, and
    hamming_key_stats reports the truncated keys. The m=1 key join
    (radius 3) stays exact under the same cap."""
    monkeypatch.setattr(H, "KEY_JOIN_MIN_SKETCHES", 0)
    # cap 2 guarantees truncation inside the 13-member planted family
    monkeypatch.setattr(H, "AUTO_MAX_KEY_GROUP", 2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        capped_df = hamming_pairs(sketches, radius=10)
    # the exact->approximate flip must be loud on the driver: exactly
    # the HammingAutoCapWarning class, naming the cap and the audit
    cap_warns = _cap_warnings(caught)
    assert cap_warns, "cap engaged without a driver warning"
    assert "capped at 2" in str(cap_warns[0].message)
    assert "hamming_key_stats" in str(cap_warns[0].message)
    capped = _pairs(capped_df)
    exact = _brute(spark, sketches, 10)
    assert capped <= exact
    assert len(capped) < len(exact)  # cap 2 must actually truncate
    assert all(h <= 10 for _, _, h in capped)
    # same-sketch pairs bypass the key join -> never dropped by a cap
    assert all(p in capped for p in exact if p[2] == 0)
    stats = hamming_key_stats(sketches, radius=10)
    assert stats.filter(F.col("capped")).count() > 0
    assert stats.filter(
        F.col("capped") & (F.col("group_size") <= 2)
    ).count() == 0

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        m1 = hamming_pairs(sketches, radius=3)
    assert not _cap_warnings(caught)
    assert _pairs(m1) == _brute(spark, sketches, 3)
    assert hamming_key_stats(sketches, radius=3).filter(
        F.col("capped")).count() == 0


def test_hamming_key_stats_profile_no_cap(spark, sketches):
    """Where the cap truncates nothing (radius 10: no key group of this
    fixture reaches 32; radius 3: m=1 has no cap) the stats frame is a
    pure key-skew profile: every row capped=false, group sizes sum to
    the total key row count."""
    for radius in (3, 10):
        stats = hamming_key_stats(sketches, radius=radius)
        assert stats.filter(F.col("capped")).count() == 0
        n_keys = sketch_keys(sketches, radius, sketch_col="simhash").count()
        total = stats.agg(F.sum("group_size")).collect()[0][0]
        assert total == n_keys
