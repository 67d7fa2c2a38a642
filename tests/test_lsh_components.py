"""Operator-contract tests: LSH band math and connected components on
hand-built inputs (ref style: src/test/java/index/BKTreeIndexTest.java:19-107,
cluster/ClustererTest.java:27-153)."""

import pytest
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.operators import components
from imageduplicatefinder_spark.operators.components import connected_components
from imageduplicatefinder_spark.operators.lsh import (
    band_table,
    candidate_pairs,
    capped_bands,
)

CFG = DedupConfig()


def _sig_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, n_tokens int, minhash array<long>"
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


def test_band_cap_limits_group_and_reports(spark):
    cfg = DedupConfig(max_band_size=3)
    sig = [7] * cfg.num_perm
    df = _sig_df(spark, [(i, 10, sig) for i in range(40)])
    bands = band_table(df, cfg)
    kept, stats = capped_bands(bands, cfg)
    per_band = [r["count"] for r in
                kept.groupBy("band_id", "band_hash").count().collect()]
    # hash-sampled cap: expected ~3 kept per 40-member band; must be
    # well below the uncapped size and deterministic
    assert max(per_band) < 15 and min(per_band) >= 0
    assert stats.filter("capped").count() == cfg.lsh_bands
    kept2, _ = capped_bands(bands, cfg)
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, kept2.collect()))
    # distinct pair union across 64 independently-sampled bands stays
    # well below the uncapped 40*39/2 = 780 (the hard guarantee is the
    # per-band/per-reducer bound asserted above, which is what skew
    # protection is about)
    assert candidate_pairs(bands, cfg).count() < 500


def test_hot_band_stats_path_equals_capped_bands(spark):
    """The pipeline's one-aggregation flow (hot_band_stats ->
    kept_bands_given_hot) must produce exactly capped_bands' outputs:
    same kept rows and the hot set == stats' capped subset. Mixed
    corpus: one 40-member mega-band family plus small families."""
    from imageduplicatefinder_spark.operators.lsh import (
        hot_band_stats,
        kept_bands_given_hot,
    )

    cfg = DedupConfig(max_band_size=3)
    hot_sig = [7] * cfg.num_perm
    cold_sig = [11] * cfg.num_perm
    df = _sig_df(
        spark,
        [(i, 10, hot_sig) for i in range(40)]
        + [(100 + i, 10, cold_sig) for i in range(2)],
    )
    bands = band_table(df, cfg).localCheckpoint(eager=True)
    kept_ref, stats_ref = capped_bands(bands, cfg)
    hot = hot_band_stats(bands, cfg)
    kept_new = kept_bands_given_hot(bands, hot, cfg)
    assert sorted(map(tuple, kept_new.collect())) == sorted(
        map(tuple, kept_ref.collect())
    )
    assert sorted(map(tuple, hot.collect())) == sorted(
        map(tuple, stats_ref.filter("capped").collect())
    )


def test_small_bands_not_sampled(spark):
    cfg = DedupConfig(max_band_size=3)
    sig = [9] * cfg.num_perm
    df = _sig_df(spark, [(i, 10, sig) for i in range(3)])
    kept, stats = capped_bands(band_table(df, cfg), cfg)
    assert kept.count() == 3 * cfg.lsh_bands  # at-cap bands keep everyone
    assert stats.filter("capped").count() == 0


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
    # a 12-node chain cannot converge in 2 rounds of min propagation
    # (CC_DRIVER_MAX_EDGES=0 forces the distributed rounds whose
    # iteration guard is under test — the driver kernel always reaches
    # fixpoint)
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(12)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, chain), max_iterations=2)


def test_cc_warn_mode_returns_partial(spark, monkeypatch):
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(12)]
    with pytest.warns(RuntimeWarning, match="did not converge"):
        rows = connected_components(
            _edges(spark, chain), max_iterations=2, on_nonconverged="warn",
        ).collect()
    assert len(rows) == 13


def test_cc_driver_dispatch_matches_distributed(spark, monkeypatch):
    """The bounded driver kernel (default below CC_DRIVER_MAX_EDGES)
    must be row-identical to the distributed rounds for BOTH
    algorithms on chain / cycle / self-loop / random shapes."""
    import random

    from imageduplicatefinder_spark.operators.components import (
        connected_components_star,
    )

    rng = random.Random(29)
    shapes = [
        [(i, i + 1) for i in range(15)],
        [(i, (i + 1) % 8) for i in range(8)],
        [(5, 5), (7, 8), (9, 9)],          # self-loops incl. loop-only
        [(rng.randrange(50), rng.randrange(50)) for _ in range(80)],
    ]
    fns = (connected_components, connected_components_star)

    def labels():
        return [sorted((r.doc_id, r.cluster_id)
                       for r in fn(_edges(spark, es)).collect())
                for es in shapes for fn in fns]

    fast = labels()
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    assert labels() == fast


def test_cc_rounds_restore_session_confs(spark, monkeypatch):
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    connected_components(_edges(spark, [(1, 2), (2, 3)]))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_band_table_fallback_matches_udf_family(spark):
    """The minhash-derived fallback bands MUST equal the UDF-precomputed
    bands: tables from the two paths are equi-joined against each other
    (incremental dedup vs an external signature table), so two hash
    families would silently match nothing."""
    from imageduplicatefinder_spark.operators.signatures import compute_signatures

    docs = spark.createDataFrame(
        [("r", f"f{i}.py", "c", "py", f"alpha beta gamma doc{i} " * 10)
         for i in range(6)],
        "repo string, path string, commit string, lang string, content string",
    )
    cfg = DedupConfig()
    sig = compute_signatures(docs, cfg)
    with_udf = {(r.doc_id, r.band_id, r.band_hash)
                for r in band_table(sig, cfg).collect()}
    fallback = {(r.doc_id, r.band_id, r.band_hash)
                for r in band_table(sig.drop("bands"), cfg).collect()}
    assert with_udf == fallback and len(with_udf) == 6 * cfg.lsh_bands


def test_verify_pairs_mixed_null_shingles_falls_back_to_estimate(spark):
    """Union of a shingled table with a minhash-only one (NULL shingles):
    mixed pairs must verify via the MinHash jaccard estimate instead of
    silently scoring 0.0 (the incremental_dedup history scenario)."""
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.operators.verify import verify_pairs

    cfg = DedupConfig()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    schema = "repo string, path string, commit string, lang string, content string"
    hist = compute_signatures(
        spark.createDataFrame([("r", "old.py", "c0", "py", base)], schema),
        cfg, keep_shingles=False,
    )
    new = compute_signatures(
        spark.createDataFrame(
            [("r", "new.py", "c1", "py", base + " tiny tail")], schema
        ),
        cfg, keep_shingles=True,
    )
    combined = hist.unionByName(new, allowMissingColumns=True)
    ids = sorted(r.doc_id for r in combined.select("doc_id").collect())
    pairs = spark.createDataFrame([tuple(ids)], "src long, dst long")
    row = verify_pairs(pairs, combined, cfg, allow_null_shingles=True).collect()[0]
    assert row.jaccard > 0.8        # estimate, not the silent 0.0
    assert row.verified
    # without the flag, a mixed pair is honestly UNKNOWN (NULL), never
    # a silent 0.0 — filter(verified) drops it
    strict = verify_pairs(pairs, combined, cfg).collect()[0]
    assert strict.jaccard is None and strict.verified is None


def test_star_cc_matches_label_propagation(spark, monkeypatch):
    """Alternating large/small-star must produce identical memberships
    and cluster ids to min-label propagation on chain / cycle /
    disjoint / random shapes."""
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    import random

    from imageduplicatefinder_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

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
        edges = spark.createDataFrame(
            [(a, b) for a, b in es if a != b], "src long, dst long"
        )
        want = {(r.doc_id, r.cluster_id)
                for r in connected_components(
                    edges, max_iterations=60
                ).collect()}
        got = {(r.doc_id, r.cluster_id)
               for r in connected_components_star(edges).collect()}
        assert got == want, name


def test_star_cc_deep_chain_logarithmic_rounds(spark, monkeypatch):
    """A 200-node chain has diameter 199 — label propagation at
    max_iterations=20 must fail, star contraction must converge well
    within 20 alternation rounds (O(log n))."""
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    import pytest

    from imageduplicatefinder_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=20)
    got = connected_components_star(edges, max_iterations=20).collect()
    assert len(got) == 200
    assert {r.cluster_id for r in got} == {0}


def test_star_cc_empty_and_self_loops(spark):
    from imageduplicatefinder_spark.operators.components import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components_star(empty).count() == 0
    loops = spark.createDataFrame([(5, 5), (7, 8)], "src long, dst long")
    got = {(r.doc_id, r.cluster_id)
           for r in connected_components_star(loops).collect()}
    # self-loop-only node stays as a singleton — contract parity with
    # connected_components (verified identical below)
    assert got == {(5, 5), (7, 7), (8, 7)}
    from imageduplicatefinder_spark.operators.components import (
        connected_components,
    )

    cc = {(r.doc_id, r.cluster_id)
          for r in connected_components(loops).collect()}
    assert got == cc


def test_star_cc_warn_mode_returns_partial(spark, monkeypatch):
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    import pytest

    from imageduplicatefinder_spark.operators.components import (
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        rows = connected_components_star(
            chain, max_iterations=1, on_nonconverged="warn",
        ).collect()
    assert len(rows) == 41  # partial labels still cover every node


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

    lp = {(r.doc_id, r.cluster_id)
          for r in refresh_clusters(old, new_edges,
                                    algorithm="labelprop").collect()}
    assert lp == got


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
    """The vectorized verify kernel ships either a padded rank matrix
    or the CSR (flat, offs) payload depending on _PAD_MATRIX_MAX_BYTES;
    both must produce evidence frames identical to each other AND to
    the shuffle-join fallback, including ragged set sizes and absent
    doc ids."""
    import random

    import imageduplicatefinder_spark.operators.verify as V
    from imageduplicatefinder_spark.config import DedupConfig

    rng = random.Random(31)
    sig_rows = []
    for d in range(40):
        n = rng.randrange(1, 12)
        sig_rows.append(
            (d, rng.getrandbits(63),
             sorted(rng.sample(range(60), n)))
        )
    sigs = spark.createDataFrame(
        sig_rows, "doc_id long, simhash long, shingles array<long>"
    )
    pair_rows = [(a, b) for a in range(40) for b in range(a + 1, 40)]
    pair_rows.append((7, 999))  # absent id: dropped by the kernels,
    # unmatched by the join — both yield no row
    pairs = spark.createDataFrame(pair_rows, "src long, dst long")
    cfg = DedupConfig()

    def rows(df):
        return sorted(
            (r.src, r.dst, r.hamming, r.jaccard, r.containment, r.verified)
            for r in df.collect()
        )

    pad = rows(V.verify_pairs(pairs, sigs, cfg))
    monkeypatch.setattr(V, "_PAD_MATRIX_MAX_BYTES", 0)
    csr = rows(V.verify_pairs(pairs, sigs, cfg))
    monkeypatch.setattr(V, "BROADCAST_VERIFY_MAX_SIGS", 0)
    join = rows(V.verify_pairs(pairs, sigs, cfg))
    assert pad == csr == join
    assert len(pad) == len(pair_rows) - 1
