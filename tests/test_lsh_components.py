"""Operator-contract tests: LSH band math and connected components on
hand-built inputs (ref style: src/test/java/index/BKTreeIndexTest.java:19-107,
cluster/ClustererTest.java:27-153)."""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.functions.fingerprints import band_hashes_numpy
from imageduplicatefinder_spark.operators import components
from imageduplicatefinder_spark.operators.components import connected_components
from imageduplicatefinder_spark.operators.hamming_lsh import sketch_keys
from imageduplicatefinder_spark.operators.lsh import (
    BAND_KEY,
    band_table,
    candidate_pairs,
    hot_keys,
    key_pairs,
    kept_given_hot,
)

CFG = DedupConfig()


def _sig_df(spark, rows):
    """(doc_id, n_tokens, minhash) rows -> a band-ready signature table
    whose ``bands`` are the fingerprint UDF's band hashes of each
    MinHash signature."""
    return spark.createDataFrame(
        [
            (doc_id, n_tokens, band_hashes_numpy(
                np.array([minhash], dtype=np.int64),
                CFG.lsh_bands, CFG.lsh_rows)[0].tolist())
            for doc_id, n_tokens, minhash in rows
        ],
        "doc_id long, n_tokens int, bands array<long>",
    )


def test_identical_signatures_collide_in_all_bands(spark):
    sig = [i for i in range(CFG.num_perm)]
    df = _sig_df(spark, [(1, 10, sig), (2, 10, sig)])
    bands = band_table(df, CFG)
    assert bands.count() == 2 * CFG.lsh_bands
    collisions = (
        bands.groupBy("band_id", "band_hash").count().filter("count = 2").count()
    )
    assert collisions == CFG.lsh_bands  # all bands collide


def test_disjoint_signatures_share_no_band(spark):
    a = [i for i in range(CFG.num_perm)]
    b = [i + 1_000_000 for i in range(CFG.num_perm)]
    df = _sig_df(spark, [(1, 10, a), (2, 10, b)])
    assert candidate_pairs(band_table(df, CFG), CFG).count() == 0


def test_min_tokens_excludes_empty_docs(spark):
    sig = [1] * CFG.num_perm
    df = _sig_df(spark, [(1, 0, sig), (2, 5, sig)])
    bands = band_table(df, CFG)
    assert bands.select("doc_id").distinct().collect() == [
        spark.createDataFrame([(2,)], "doc_id long").collect()[0]
    ]


def _band_hot_kept(bands, cfg):
    """The pipeline's band cap: (hot band stats, kept band rows)."""
    cap = cfg.max_band_size
    hot = hot_keys(bands, BAND_KEY, cap, "band_size")
    return hot, kept_given_hot(bands, hot, BAND_KEY, "doc_id", cap,
                               "band_size")


def test_band_cap_limits_group_and_reports(spark):
    """hot_keys reports exactly the over-cap bands and kept_given_hot
    thins only those: a 40-member mega-band family
    is down-sampled (deterministically) while a 2-member family beside
    it is kept whole."""
    cfg = DedupConfig(max_band_size=3)
    hot_sig = [7] * cfg.num_perm
    cold_sig = [11] * cfg.num_perm
    df = _sig_df(
        spark,
        [(i, 10, hot_sig) for i in range(40)]
        + [(100 + i, 10, cold_sig) for i in range(2)],
    )
    bands = band_table(df, cfg).localCheckpoint(eager=True)
    hot, kept = _band_hot_kept(bands, cfg)
    kept = kept.collect()

    band_rows = bands.collect()
    sizes = Counter((r.band_id, r.band_hash) for r in band_rows)
    over = {k for k, n in sizes.items() if n > cfg.max_band_size}
    assert len(over) == cfg.lsh_bands  # every band of the hot family
    hot_rows = hot.collect()
    assert {(r.band_id, r.band_hash) for r in hot_rows} == over
    assert all(r.capped and r.band_size == 40 for r in hot_rows)
    # hash-sampled cap: expected ~3 kept per 40-member band; must be
    # well below the uncapped size and deterministic
    per_band = Counter((r.band_id, r.band_hash) for r in kept)
    assert max(per_band[k] for k in over) < 15
    assert sorted(tuple(r) for r in kept if r.doc_id >= 100) == sorted(
        tuple(r) for r in band_rows if r.doc_id >= 100
    )
    _, kept2 = _band_hot_kept(bands, cfg)
    assert sorted(map(tuple, kept)) == sorted(map(tuple, kept2.collect()))
    # distinct pair union across 64 independently-sampled bands stays
    # well below the uncapped 40*39/2 = 780 (the hard guarantee is the
    # per-band/per-reducer bound asserted above, which is what skew
    # protection is about)
    assert candidate_pairs(bands, cfg).count() < 500


def _mega_bands(spark):
    """Band table: one 40-member mega-band family plus a 2-member one."""
    cfg = DedupConfig(max_band_size=3)
    df = _sig_df(
        spark,
        [(i, 10, [7] * cfg.num_perm) for i in range(40)]
        + [(100 + i, 10, [11] * cfg.num_perm) for i in range(2)],
    )
    return (band_table(df, cfg), BAND_KEY, "doc_id", cfg.max_band_size,
            "band_size")


def _mega_sketch_keys(spark):
    """m=2 pigeonhole keys (radius 10) of 50 sketches whose low 40 bits
    are identical: the low-bit block combinations are shared by all."""
    df = spark.createDataFrame([(i, i << 40) for i in range(50)],
                               "doc_id long, simhash long")
    return sketch_keys(df, 10), ["key_id", "key_val"], "sketch", 5, "group_size"


def _mega_buckets(spark):
    """Hyperplane (table_id, bucket) rows over two tables: 40 vectors
    share bucket 0, 20 more spread over three small buckets."""
    rows = [(i, t, 0 if i < 40 else 1 + i % 3)
            for i in range(60) for t in range(2)]
    df = spark.createDataFrame(rows, "_id long, table_id int, bucket long")
    return df, ["table_id", "bucket"], "_id", 16, "_bsz"


@pytest.mark.parametrize(
    "shape", [_mega_bands, _mega_sketch_keys, _mega_buckets],
    ids=["bands", "sketch_keys", "buckets"],
)
def test_hot_band_stats_path_equals_capped_bands(spark, shape):
    """Every capped key join — LSH bands, m=2 Hamming pigeonhole keys,
    hyperplane buckets — runs the one rule of operators/lsh.py:
    hot_keys -> kept_given_hot -> key_pairs must produce exactly the
    cap written out directly. Per-key sizes by window count, every
    member of an at-or-below-cap key kept, a member of an over-cap key
    kept iff pmod(xxhash64(member, *keys), size) < cap; the hot set ==
    the capped subset of the per-key stats; the pairs == every distinct
    member pair (a < b) sharing a kept key."""
    from pyspark.sql import Window

    rows, keys, member, cap, size = shape(spark)
    rows = rows.localCheckpoint(eager=True)

    sized = rows.withColumn(
        size, F.count("*").over(Window.partitionBy(*keys))
    ).withColumn("capped", F.col(size) > cap)
    kept_ref = sized.filter(
        ~F.col("capped")
        | (F.pmod(F.xxhash64(member, *keys), F.col(size)) < cap)
    ).select(member, *keys)
    stats_ref = sized.select(*keys, size, "capped").distinct()

    hot = hot_keys(rows, keys, cap, size)
    kept_new = kept_given_hot(rows, hot, keys, member, cap, size)
    kept_rows = sorted(map(tuple, kept_new.collect()))
    assert kept_rows == sorted(map(tuple, kept_ref.collect()))
    hot_rows = sorted(map(tuple, hot.collect()))
    assert hot_rows  # the shape has a hot key
    assert hot_rows == sorted(
        map(tuple, stats_ref.filter("capped").collect())
    )

    groups: dict = {}
    for r in kept_rows:
        groups.setdefault(r[1:], set()).add(r[0])
    pairs_ref = {(a, b) for g in groups.values() for a in g for b in g
                 if a < b}
    pairs = key_pairs(kept_new, keys, member, "a", "b").collect()
    assert len(pairs) == len(pairs_ref)
    assert {(r.a, r.b) for r in pairs} == pairs_ref


def test_small_bands_not_sampled(spark):
    cfg = DedupConfig(max_band_size=3)
    sig = [9] * cfg.num_perm
    df = _sig_df(spark, [(i, 10, sig) for i in range(3)])
    bands = band_table(df, cfg)
    hot, kept = _band_hot_kept(bands, cfg)
    assert hot.count() == 0
    # at-cap bands keep everyone
    assert kept.count() == 3 * cfg.lsh_bands


def test_band_cap_below_one_rejected():
    """pmod(hash, size) < 0 never holds: a cap below 1 would drop every
    member of every band, so the config refuses it."""
    with pytest.raises(ValueError, match="max_band_size"):
        DedupConfig(max_band_size=0)
    with pytest.raises(ValueError, match="max_band_size"):
        DedupConfig(max_band_size=-5)
    assert DedupConfig(max_band_size=1).max_band_size == 1


def test_candidate_pairs_are_deduped_and_ordered(spark):
    sig = [3] * CFG.num_perm
    df = _sig_df(spark, [(5, 10, sig), (2, 10, sig), (9, 10, sig)])
    pairs = candidate_pairs(band_table(df, CFG), CFG).collect()
    got = {(r.src, r.dst) for r in pairs}
    assert got == {(2, 5), (2, 9), (5, 9)}  # src < dst, no dups across 64 bands


# --- connected components ---------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _comps(spark, pairs):
    rows = connected_components(_edges(spark, pairs)).collect()
    comp = {}
    for r in rows:
        comp.setdefault(r.cluster_id, set()).add(r.doc_id)
    return sorted(sorted(v) for v in comp.values())


def test_cc_empty(spark):
    assert _comps(spark, []) == [] or _comps(spark, []) == []


def test_cc_transitive_chain_is_one_cluster(spark):
    # ref: ClustererTest transitive chain -> one cluster
    assert _comps(spark, [(1, 2), (2, 3), (3, 4)]) == [[1, 2, 3, 4]]


def test_cc_disjoint_groups(spark):
    got = _comps(spark, [(1, 2), (3, 4), (4, 5)])
    assert got == [[1, 2], [3, 4, 5]]


def test_cc_cluster_id_is_min_member(spark):
    rows = connected_components(_edges(spark, [(7, 3), (3, 9)])).collect()
    assert {r.cluster_id for r in rows} == {3}


def test_cc_cycle(spark):
    assert _comps(spark, [(1, 2), (2, 3), (3, 1)]) == [[1, 2, 3]]


def test_cc_long_chain_converges(spark):
    n = 33
    pairs = [(i, i + 1) for i in range(n)]
    assert _comps(spark, pairs) == [list(range(n + 1))]


def test_cc_raises_on_nonconvergence(spark, monkeypatch):
    # a 41-node chain cannot contract to a star in 1 alternation
    # (CC_DRIVER_MAX_EDGES=0 forces the distributed rounds whose
    # iteration guard is under test — the driver kernel always reaches
    # fixpoint)
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(components, "CC_MAX_ROUNDS", 1)
    chain = [(i, i + 1) for i in range(40)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, chain))


def test_cc_driver_dispatch_matches_distributed(spark, monkeypatch):
    """The bounded driver kernel (default below CC_DRIVER_MAX_EDGES)
    must be row-identical to the forced star-contraction rounds on
    chain / cycle / disjoint / self-loop / random shapes."""
    import random

    rng = random.Random(29)
    rng13 = random.Random(13)
    shapes = [
        [(i, i + 1) for i in range(15)],
        [(i, i + 1) for i in range(12)],
        [(i, (i + 1) % 8) for i in range(8)],
        [(i, (i + 1) % 9) for i in range(9)],
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        [(5, 5), (7, 8), (9, 9)],          # self-loops incl. loop-only
        [(rng.randrange(50), rng.randrange(50)) for _ in range(80)],
        [(rng13.randrange(40), rng13.randrange(40)) for _ in range(60)],
    ]

    def labels():
        return [sorted((r.doc_id, r.cluster_id)
                       for r in connected_components(
                           _edges(spark, es)).collect())
                for es in shapes]

    fast = labels()
    # spot-check the driver pass against the known answer
    assert fast[4] == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                       (20, 20), (21, 20), (22, 20)]
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    assert labels() == fast


def test_cc_rounds_restore_session_confs(spark, monkeypatch):
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    connected_components(_edges(spark, [(1, 2), (2, 3)]))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


#: each verify leg, forced: the module constants to set and the Python
#: map node its plan runs
_VERIFY_LEGS = {
    "pad": ({}, "MapInPandas"),
    "csr": ({"_PAD_MATRIX_MAX_BYTES": 0}, "MapInPandas"),
    "shuffle": ({"BROADCAST_VERIFY_MAX_SIGS": 0}, "MapInArrow"),
}


def _verify_legs(monkeypatch, pairs, sigs, cfg, unique_ids=True, **kw):
    """``verify_pairs`` rows (sorted) per forced leg. Each plan must run
    the leg's Python map node and no JVM ``array_intersect``; with
    duplicate ids every leg is the shuffle join."""
    import imageduplicatefinder_spark.operators.verify as V

    out = {}
    for leg, (consts, node) in _VERIFY_LEGS.items():
        with monkeypatch.context() as m:
            for name, value in consts.items():
                m.setattr(V, name, value)
            df = V.verify_pairs(pairs, sigs, cfg, **kw)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert (node if unique_ids else "MapInArrow") in plan, plan
            assert "array_intersect" not in plan, plan
            out[leg] = sorted(
                ((r.src, r.dst, r.hamming, r.jaccard, r.containment,
                  r.verified) for r in df.collect()), key=repr)
    return out


def test_verify_pairs_null_shingles_are_unknown(spark, monkeypatch):
    """A pair with a NULL shingle side (a hand-built table) is UNKNOWN —
    NULL jaccard/containment/verified, dropped by filter(verified),
    never a silent 0.0 — on every leg, while pairs with both sets still
    score and an empty set scores 0.0."""
    cfg = DedupConfig()
    sigs = spark.createDataFrame(
        [(1, 5, [1, 2, 3]), (2, 5, None), (3, 5, [1, 2, 3]), (4, 6, [])],
        "doc_id long, simhash long, shingles array<long>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                                  "src long, dst long")
    want = [(1, 2, 0, None, None, None), (1, 3, 0, 1.0, 1.0, True),
            (1, 4, 2, 0.0, 0.0, False)]
    for leg, got in _verify_legs(monkeypatch, pairs, sigs, cfg).items():
        assert got == want, leg
    kept = _verify_legs(monkeypatch, pairs, sigs, cfg, only_verified=True)
    assert all(got == [want[1]] for got in kept.values()), kept


def _label_propagation(es):
    """Reference components: min-label propagation to fixpoint, in
    plain Python (self-loop-only nodes stay singletons)."""
    label = {n: n for e in es for n in e}
    changed = True
    while changed:
        changed = False
        for a, b in es:
            m = min(label[a], label[b])
            for n in (a, b):
                if label[n] != m:
                    label[n], changed = m, True
    return set(label.items())


def test_star_cc_matches_label_propagation(spark, monkeypatch):
    """Alternating large/small-star must produce identical memberships
    and cluster ids to min-label propagation on chain / cycle /
    disjoint / random shapes."""
    import random

    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    shapes = {
        "chain": [(i, i + 1) for i in range(12)],
        "cycle": [(i, (i + 1) % 9) for i in range(9)],
        "disjoint": [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
    }
    rng = random.Random(13)
    shapes["random"] = [
        (rng.randrange(40), rng.randrange(40)) for _ in range(60)
    ]
    for name, es in shapes.items():
        es = [(a, b) for a, b in es if a != b]
        got = {(r.doc_id, r.cluster_id)
               for r in connected_components(_edges(spark, es)).collect()}
        assert got == _label_propagation(es), name


def test_star_cc_deep_chain_logarithmic_rounds(spark, monkeypatch):
    """A 200-node chain has diameter 199 — star contraction must
    converge well within 20 alternation rounds (O(log n))."""
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(components, "CC_MAX_ROUNDS", 20)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "src long, dst long"
    )
    got = connected_components(edges).collect()
    assert len(got) == 200
    assert {r.cluster_id for r in got} == {0}


def test_star_cc_empty_and_self_loops(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
    loops = spark.createDataFrame([(5, 5), (7, 8)], "src long, dst long")
    got = {(r.doc_id, r.cluster_id)
           for r in connected_components(loops).collect()}
    # self-loop-only node stays as a singleton
    assert got == {(5, 5), (7, 7), (8, 7)}


def test_refresh_clusters_merges_and_extends(spark):
    """Incremental re-clustering: label-edges ∪ new edges must merge
    previously separate clusters, keep untouched singletons, and admit
    brand-new docs — identical to a full recompute over the
    accumulated edge set."""
    from imageduplicatefinder_spark.operators.components import (
        connected_components,
        refresh_clusters,
    )

    old_edges = [(1, 2), (5, 6)]
    old = connected_components(
        spark.createDataFrame(old_edges, "src long, dst long")
    ).unionByName(
        spark.createDataFrame([(9, 9)], "doc_id long, cluster_id long")
    )
    new_edges_rows = [(2, 5), (10, 11)]
    new_edges = spark.createDataFrame(new_edges_rows, "src long, dst long")

    got = {(r.doc_id, r.cluster_id)
           for r in refresh_clusters(old, new_edges).collect()}
    full = connected_components(
        spark.createDataFrame(old_edges + new_edges_rows + [(9, 9)],
                              "src long, dst long")
    )
    want = {(r.doc_id, r.cluster_id) for r in full.collect()}
    assert got == want
    assert (9, 9) in got                        # singleton preserved
    assert {(1, 1), (2, 1), (5, 1), (6, 1)} <= got   # merged to min 1
    assert {(10, 10), (11, 10)} <= got          # new docs admitted


def test_use_simhash_verify_flag_activates_hamming_clause(spark):
    """Reference-parity verify rule (BKTreeIndex.java:42-43): with the
    flag on, a pair inside the Hamming radius verifies even when its
    Jaccard/containment fail; with the flag off it does not."""
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.verify import verify_pairs

    # disjoint shingle sets (jaccard 0) but sketches 3 bits apart
    sigs = spark.createDataFrame(
        [(1, 0b111, [10, 11, 12]), (2, 0b000, [20, 21, 22])],
        "doc_id long, simhash long, shingles array<long>",
    )
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    off = verify_pairs(pairs, sigs, DedupConfig()).collect()[0]
    assert off.hamming == 3 and not off.verified
    on = verify_pairs(
        pairs, sigs, DedupConfig(use_simhash_verify=True)
    ).collect()[0]
    assert on.verified  # hamming 3 <= radius 10 satisfies the ref rule


def test_verify_kernel_pad_csr_and_join_paths_agree(spark, monkeypatch):
    """The broadcast leg ships either a padded rank matrix or the CSR
    (flat, offs) payload depending on _PAD_MATRIX_MAX_BYTES; both must
    produce evidence frames identical to each other AND to the shuffle
    join leg, including ragged and empty set sizes and absent doc ids.
    A duplicated doc_id duplicates its pairs' rows, as a join does."""
    import random

    rng = random.Random(31)
    sig_rows = []
    for d in range(40):
        n = rng.randrange(1, 12)
        sig_rows.append(
            (d, rng.getrandbits(63),
             sorted(rng.sample(range(60), n)))
        )
    sig_rows[-1] = (39, sig_rows[-1][1], [])  # an empty set scores 0.0
    schema = "doc_id long, simhash long, shingles array<long>"
    sigs = spark.createDataFrame(sig_rows, schema)
    pair_rows = [(a, b) for a in range(40) for b in range(a + 1, 40)]
    pair_rows.append((7, 999))  # absent id: no row on any leg
    pairs = spark.createDataFrame(pair_rows, "src long, dst long")
    cfg = DedupConfig()

    legs = _verify_legs(monkeypatch, pairs, sigs, cfg)
    assert legs["pad"] == legs["csr"] == legs["shuffle"]
    assert len(legs["pad"]) == len(pair_rows) - 1
    assert all(r[3] == r[4] == 0.0 for r in legs["pad"] if r[1] == 39)

    dup = spark.createDataFrame(sig_rows + [(0, 1, [1, 2])], schema)
    legs_dup = _verify_legs(monkeypatch, pairs, dup, cfg, unique_ids=False)
    assert legs_dup["pad"] == legs_dup["csr"] == legs_dup["shuffle"]
    assert len(legs_dup["pad"]) == len(pair_rows) - 1 + 39


def test_verify_repeated_shingles_count_once(spark, monkeypatch):
    """|A ∩ B| is a set count while |A| and |B| are the array lengths,
    so a shingle array that repeats a value ([1,1,2] vs [1,2]) scores
    jaccard 2/3 on every leg."""
    sigs = spark.createDataFrame(
        [(1, 5, [1, 1, 2]), (2, 7, [1, 2]), (3, 5, [2, 3, 4])],
        "doc_id long, simhash long, shingles array<long>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)],
                                  "src long, dst long")
    legs = _verify_legs(monkeypatch, pairs, sigs, DedupConfig())
    assert legs["pad"] == legs["csr"] == legs["shuffle"]
    got = {(r[0], r[1]): (r[3], r[4]) for r in legs["pad"]}
    assert got[(1, 2)] == (pytest.approx(2 / 3), 1.0)
    assert got[(1, 3)] == (pytest.approx(1 / 5), pytest.approx(1 / 3))
    assert got[(2, 3)] == (pytest.approx(1 / 4), pytest.approx(1 / 2))
