"""Analytic golden tests for the fingerprint kernels — derived, not
recorded, mirroring the reference's style (ref: src/test/java/hash/
PHashDctTest.java:49-99 black->0L, AHashTest.java:29-100,
HammingTest.java:12-50)."""

import numpy as np
import pandas as pd
import pytest

from imageduplicatefinder_spark.functions.fingerprints import (
    _mix64,
    _perm_params,
    minhash_numpy,
    shingle_hashes_numpy,
    simhash_numpy,
    tokenize_series,
)


def test_tokenize_word_lowercases_and_splits():
    out = tokenize_series(pd.Series(["Foo bar_baz  42\nqux", None, ""]), "word")
    assert out[0] == ["foo", "bar_baz", "42", "qux"]
    assert out[1] == []
    assert out[2] == []


def test_tokenize_char_canonicalizes_whitespace():
    out = tokenize_series(pd.Series(["A  b\t\nC"]), "char")
    assert out[0] == list("a b c")


def test_shingles_short_doc_collapses_to_whole():
    # docs shorter than k produce exactly one shingle (degenerate family)
    one = shingle_hashes_numpy(["a", "b"], k=3)
    assert one.shape == (1,)
    assert shingle_hashes_numpy([], k=3).shape == (0,)


def test_shingles_count_and_distinctness():
    toks = list("abcdefgh")
    sh = shingle_hashes_numpy(toks, k=3)  # 6 shingles, all distinct
    assert sh.shape == (6,)
    # repeated shingles dedup: 'ababab' -> {aba, bab}
    sh2 = shingle_hashes_numpy(list("ababab"), k=3)
    assert sh2.shape == (2,)


def test_shingle_hashes_deterministic_across_calls():
    a = shingle_hashes_numpy(list("hello world"), 3)
    b = shingle_hashes_numpy(list("hello world"), 3)
    np.testing.assert_array_equal(a, b)


def test_mix64_is_bijective_on_sample():
    x = np.arange(10000, dtype=np.uint64)
    assert len(np.unique(_mix64(x))) == 10000


def test_minhash_identity_and_empty():
    keys = _perm_params(128, 42)
    s = shingle_hashes_numpy(list("some text here"), 3)
    np.testing.assert_array_equal(minhash_numpy(s, keys), minhash_numpy(s, keys))
    empty = minhash_numpy(np.empty(0, dtype=np.uint64), keys)
    assert (empty == np.iinfo(np.int64).max).all()


def test_minhash_equality_fraction_estimates_jaccard():
    """Signature slot agreement must track true Jaccard (the property the
    linear-congruential family violated; caught by a live bug)."""
    rng = np.random.default_rng(0)
    keys = _perm_params(512, 42)
    a = rng.integers(0, 1 << 63, size=300, dtype=np.uint64)
    extra = rng.integers(0, 1 << 63, size=200, dtype=np.uint64)
    b = np.unique(np.concatenate([a[:200], extra]))
    a = np.unique(a)
    inter = len(np.intersect1d(a, b))
    true_j = inter / (len(a) + len(b) - inter)
    est = (minhash_numpy(a, keys) == minhash_numpy(b, keys)).mean()
    assert abs(est - true_j) < 0.08, (est, true_j)


def test_minhash_disjoint_sets_rarely_agree():
    keys = _perm_params(128, 42)
    a = np.arange(1, 201, dtype=np.uint64)
    b = np.arange(10_001, 10_201, dtype=np.uint64)
    est = (minhash_numpy(a, keys) == minhash_numpy(b, keys)).mean()
    assert est < 0.05


def test_simhash_empty_is_zero():
    # analog of the reference's black-image pHash == 0L golden
    assert simhash_numpy(np.empty(0, dtype=np.uint64)) == np.int64(0)


def test_simhash_single_token_equals_its_hash():
    h = pd.util.hash_array(np.asarray(["tok"], dtype=object))
    # one token: every set bit is a strict majority -> simhash == token hash
    assert np.uint64(simhash_numpy(h).astype(np.uint64)) == h[0]


def test_simhash_identical_multisets_equal():
    h1 = pd.util.hash_array(np.asarray(["a", "b", "c", "a"], dtype=object))
    h2 = pd.util.hash_array(np.asarray(["a", "b", "c", "a"], dtype=object))
    assert simhash_numpy(h1) == simhash_numpy(h2)


def test_simhash_hamming_properties():
    """Hamming metric properties (ref: src/test/java/hash/HammingTest.java:12-50):
    identity 0, symmetry, popcount vs 0, 64-bit extremes."""
    def ham(x, y):
        return bin((int(x) & 0xFFFFFFFFFFFFFFFF) ^ (int(y) & 0xFFFFFFFFFFFFFFFF)).count("1")

    assert ham(0, 0) == 0
    assert ham(-1, 0) == 64
    assert ham(0b1011, 0) == 3
    assert ham(12345, 67890) == ham(67890, 12345)


def test_signatures_schema_is_pinned(spark):
    """Every signature row has one schema: the MinHash signature stays
    inside the fingerprint UDF (it only feeds ``bands``), and the
    shingle sets are always there for exact verification."""
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.signatures import compute_signatures

    docs = spark.createDataFrame(
        [("r", "a.py", "c", "py", "alpha beta gamma delta")],
        "repo string, path string, commit string, lang string, content string",
    )
    assert compute_signatures(docs, DedupConfig()).columns == [
        "doc_id", "repo", "path", "commit", "lang", "sha256", "size",
        "n_tokens", "simhash", "bands", "shingles",
    ]


def test_hamming_distance_col_jvm(spark):
    from pyspark.sql import functions as F
    from imageduplicatefinder_spark.functions.fingerprints import hamming_distance_col

    df = spark.createDataFrame(
        [(0, 0), (-1, 0), (0b1011, 0), (1 << 62, 0)], "a long, b long"
    )
    got = [r[0] for r in df.select(hamming_distance_col(F.col("a"), F.col("b"))).collect()]
    assert got == [0, 64, 3, 1]


# --- gradient-sign family (H2 dHash analog) ----------------------------------


def test_gradsign_empty_and_single_are_zero():
    from imageduplicatefinder_spark.functions.fingerprints import gradsign_numpy

    # empty doc -> 0 (black-image golden analog); a single token has no
    # gradient, so it is 0 too
    assert gradsign_numpy(np.empty(0, dtype=np.uint64)) == np.int64(0)
    h = pd.util.hash_array(np.asarray(["tok"], dtype=object))
    assert gradsign_numpy(h) == np.int64(0)


def test_gradsign_deterministic_and_order_sensitive():
    from imageduplicatefinder_spark.functions.fingerprints import gradsign_numpy

    a = pd.util.hash_array(np.asarray(list("abcdefghij"), dtype=object))
    assert gradsign_numpy(a) == gradsign_numpy(a.copy())
    # unlike SimHash (multiset majority), the gradient family sees order
    rev = a[::-1].copy()
    assert gradsign_numpy(a) != gradsign_numpy(rev)


def test_gradsign_differs_from_simhash_family():
    from imageduplicatefinder_spark.functions.fingerprints import gradsign_numpy

    h = pd.util.hash_array(np.asarray(list("abcdefghijklmnop"), dtype=object))
    assert gradsign_numpy(h) != simhash_numpy(h)


def test_gradsign_stable_under_inplace_edits():
    """Locality property of the positional-resampling family: editing a
    few tokens IN PLACE flips few bits, because only samples landing on
    an edited position change (65 samples over 500 tokens touch ~13% of
    positions). Length-changing edits shift every sample index and are
    NOT small-distance — same behavior class as dHash, which absorbs
    pixel edits but not reframing."""
    from imageduplicatefinder_spark.functions.fingerprints import gradsign_numpy

    base = pd.util.hash_array(
        np.asarray([f"tok{i}" for i in range(500)], dtype=object)
    )
    edited = base.copy()
    for pos in (50, 250, 450):
        edited[pos] = pd.util.hash_array(
            np.asarray([f"edit{pos}", ], dtype=object)
        )[0]
    d = bin(
        (int(gradsign_numpy(base)) & 0xFFFFFFFFFFFFFFFF)
        ^ (int(gradsign_numpy(edited)) & 0xFFFFFFFFFFFFFFFF)
    ).count("1")
    assert d <= 12, d


def test_sketch_dispatch_validation():
    from imageduplicatefinder_spark.config import DedupConfig

    with pytest.raises(ValueError, match="sketch"):
        DedupConfig(sketch="phash_dct")
    assert DedupConfig(sketch="gradsign").config_hash() != DedupConfig().config_hash()


def test_portable_gradsign_matches_pure_python(spark):
    """The JVM-side portable gradient-sign sketch (queries.py) must equal
    a pure-Python reference of the same formula (md5-hex positional
    resamples, MSB-first packing) — the invariant its DuckDB oracle
    relies on."""
    import hashlib

    from imageduplicatefinder_spark.queries import _portable_gradsign

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = _portable_gradsign(docs).collect()[0].gradsign

    toks = text.split(" ")
    n = len(toks)
    samples = [
        hashlib.md5(toks[(j * n) // 65].encode()).hexdigest()[:16]
        for j in range(65)
    ]
    expect = 0
    for j in range(64):
        if samples[j + 1] > samples[j]:
            expect += -(1 << 63) if j == 0 else (1 << (63 - j))
    assert got == expect


def test_char_tokenizer_branch(spark):
    """tokenizer='char' (H4 dispatch, the source-code payload mode):
    whitespace-collapsed lowercased characters, and the full pipeline
    clusters a whitespace-variant pair under it."""
    import pandas as pd

    from imageduplicatefinder_spark.functions.fingerprints import tokenize_series

    toks = tokenize_series(pd.Series(["Ab  C", None, ""]), "char")
    assert toks.iloc[0] == ["a", "b", " ", "c"]
    assert toks.iloc[1] == [] and toks.iloc[2] == []


def test_pipeline_char_tokenizer_end_to_end(spark, tmp_path):
    import tempfile

    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

    body = "def f(x): return x + 1  # compute " * 8
    docs = spark.createDataFrame(
        [("r", "a.py", "c1", "py", body),
         ("r", "b.py", "c2", "py", body.replace("  ", " ") + " "),  # ws variant
         ("r", "c.py", "c3", "py", "while True: completely_other_tokens() " * 8)],
        "repo string, path string, commit string, lang string, content string",
    )
    cfg = DedupConfig(tokenizer="char", shingle_k=5)
    res = DedupPipeline(spark, cfg, checkpoint_dir=tempfile.mkdtemp()).run(docs)
    plan = {r.path: r.action for r in res.plan.collect()}
    assert set(plan) == {"a.py", "b.py"}      # ws-variant pair clusters
    assert sorted(plan.values()) == ["DELETE", "KEEP"]


def test_widen_if_narrow_forces_each_path(spark, tmp_path):
    """A scan of fewer files than defaultParallelism is hash-spread over
    2x defaultParallelism partitions; a scan of at least that many
    files comes back untouched. The rows are the same either way."""
    from imageduplicatefinder_spark.operators.signatures import widen_if_narrow

    par = spark.sparkContext.defaultParallelism
    rows = spark.range(4 * par).withColumnRenamed("id", "doc_id")
    narrow_dir, wide_dir = str(tmp_path / "narrow"), str(tmp_path / "wide")
    rows.coalesce(1).write.parquet(narrow_dir)
    rows.repartition(par).write.parquet(wide_dir)

    narrow = spark.read.parquet(narrow_dir)
    assert len(narrow.inputFiles()) == 1
    widened = widen_if_narrow(narrow)
    assert widened.rdd.getNumPartitions() == 2 * par

    wide = spark.read.parquet(wide_dir)
    assert len(wide.inputFiles()) >= par
    assert widen_if_narrow(wide) is wide

    expected = sorted(r.doc_id for r in rows.collect())
    for df in (widened, wide):
        assert sorted(r.doc_id for r in df.collect()) == expected
