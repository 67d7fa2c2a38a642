"""Multimodal plumbing + streaming dedup tests."""

import datetime

import pytest
from pyspark.sql import functions as F

from imageduplicatefinder_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample,
    media_dedup_by_feature,
)
from imageduplicatefinder_spark.streaming.dedup_stream import (
    dedup_stream,
    ingest_window_stats,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", bytes(range(200))),
        (2, "image", bytes(range(200))),          # exact dup of 1
        (3, "image", bytes(reversed(range(256)))),
        (4, "audio", b""),                        # empty payload
    ]
    return spark.createDataFrame(rows, "id long, kind string, data binary")


def test_extract_features_schema_and_determinism(spark, media):
    out = extract_features(media, decode="fake")
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert all(len(r.feature) == FEATURE_DIM for r in rows.values())
    # identical bytes -> identical features; empty -> zeros
    assert rows[1].feature == rows[2].feature
    assert rows[4].feature == [0.0] * FEATURE_DIM
    assert rows[4].width == 0 and rows[4].height == 0


def test_extract_features_real_decode_is_gated(spark, media):
    from imageduplicatefinder_spark.operators.multimodal import HAS_PIL

    if HAS_PIL:
        pytest.skip("PIL installed: the real path is live, gate inactive")
    # without PIL the gate must fire at PLAN time (driver-side), not as
    # an executor surprise after upstream work
    with pytest.raises(NotImplementedError, match="Pillow"):
        extract_features(media, decode="real")


def _png_bytes(color: int, size: int = 32) -> bytes:
    import numpy as np

    from imageduplicatefinder_spark.operators.multimodal import encode_png

    return encode_png(np.full((size, size), color, dtype=np.uint8))


def test_real_decode_phash_reference_goldens(spark):
    """The reference pHash goldens on real compressed PNG payloads:
    black -> sketch 0, constant non-zero -> sketch 1 (DC bit only)
    (ref: src/test/java/hash/PHashDctTest.java:49-99). Runs
    UNCONDITIONALLY since round 5: with Pillow present it drives
    decode="real" (PIL's PNG codec); without it, the stdlib PNG reader
    (decode="png") decodes the same payloads — either way a compressed
    codec path is exercised in-container."""
    from imageduplicatefinder_spark.operators.multimodal import (
        HAS_PIL,
        REAL_FEATURE_DIM,
        phash64,
    )

    rows = [
        (1, "image", _png_bytes(0)),      # black
        (2, "image", _png_bytes(200)),    # constant non-zero
        (3, "image", b"not an image"),    # malformed -> degenerate row
    ]
    media = spark.createDataFrame(rows, "id long, kind string, data binary")
    feats = extract_features(media, decode="real" if HAS_PIL else "png")
    frows = {r.id: r for r in feats.collect()}
    assert len(frows[1].feature) == REAL_FEATURE_DIM
    assert frows[1].width == 32 and frows[1].height == 32
    assert frows[3] .width == 0 and frows[3].feature == [0.0] * REAL_FEATURE_DIM
    hashes = {r.id: r.phash for r in phash64(feats).collect()}
    assert hashes[1] == 0     # black golden
    assert hashes[2] == 1     # constant golden (DC bit only)
    assert hashes[3] == 0     # degenerate row behaves like black


def test_frame_sample_cardinality(spark, media):
    out = frame_sample(media, every_n_bytes=64).collect()
    per_id = {}
    for r in out:
        per_id.setdefault(r.id, []).append(r.frame_offset)
    assert sorted(per_id[1]) == [0, 64, 128, 192]  # 200 bytes / 64
    assert per_id[4] == [0]  # empty payload -> one empty frame


def test_media_dedup_by_feature(spark, media):
    feats = extract_features(media, decode="fake")
    pairs = media_dedup_by_feature(feats).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


# --- streaming ---------------------------------------------------------------


def _doc_stream_rows():
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (t0, "r", "a.py", "c1", "py", "same content"),
        (t0 + datetime.timedelta(seconds=30), "r", "b.py", "c2", "py", "same content"),
        (t0 + datetime.timedelta(seconds=60), "r", "c.py", "c3", "py", "other content"),
    ]


STREAM_SCHEMA = (
    "ts timestamp, repo string, path string, commit string, "
    "lang string, content string"
)


def test_dedup_stream_drops_exact_dups(spark, tmp_path):
    src = spark.createDataFrame(_doc_stream_rows(), STREAM_SCHEMA)
    srcdir = str(tmp_path / "stream_src")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from dedup_out").collect()
    assert len(out) == 2  # one of the two 'same content' rows dropped
    assert {r.content for r in out} == {"same content", "other content"}


def test_ingest_window_stats_stream(spark, tmp_path):
    src = spark.createDataFrame(_doc_stream_rows(), STREAM_SCHEMA)
    srcdir = str(tmp_path / "stream_src2")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    q = (
        ingest_window_stats(stream, window="1 minute")
        .writeStream.format("memory")
        .queryName("ingest_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from ingest_stats order by window_start").collect()
    assert [r.n_docs for r in out] == [2, 1]
    assert all(r.lang == "py" for r in out)


def test_stateful_dup_tracker(spark, tmp_path):
    from imageduplicatefinder_spark.streaming.dedup_stream import stateful_dup_tracker

    src = spark.createDataFrame(_doc_stream_rows(), STREAM_SCHEMA)
    srcdir = str(tmp_path / "stream_src3")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    q = (
        stateful_dup_tracker(stream)
        .writeStream.format("memory")
        .queryName("dup_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = {r.first_path: r for r in spark.sql("select * from dup_state").collect()}
    # 'same content' arrived twice: first a.py, one duplicate counted
    assert out["a.py"].dup_count == 1
    assert out["c.py"].dup_count == 0


# --- pHash-DCT ----------------------------------------------------------------


def test_phash_constant_block_goldens(spark):
    """All-zero block -> 0 (ref black-image golden, src/test/java/hash/
    PHashDctTest.java:49-60); constant non-zero block -> only the DC
    coefficient survives -> bit 0 only (LSB-first packing, ref
    PHashDct.java:51-56)."""
    from imageduplicatefinder_spark.operators.multimodal import phash64

    feats = spark.createDataFrame(
        [(1, [5.0] * 64), (2, [0.0] * 64)], "id long, feature array<float>"
    )
    got = {r.id: r.phash for r in phash64(feats).collect()}
    assert got == {1: 1, 2: 0}


def test_phash_deterministic_and_pads_short_features(spark, media):
    from imageduplicatefinder_spark.operators.multimodal import (
        extract_features,
        phash64,
    )

    feats = extract_features(media, decode="fake")  # FEATURE_DIM=32, padded
    a = {r.id: r.phash for r in phash64(feats).collect()}
    b = {r.id: r.phash for r in phash64(feats).collect()}
    assert a == b
    assert a[1] == a[2]          # identical bytes -> identical sketch
    assert a[1] != a[3]          # different bytes -> different sketch


def test_phash_pairs_via_hamming_lsh(spark, media):
    from imageduplicatefinder_spark.operators.hamming_lsh import hamming_pairs
    from imageduplicatefinder_spark.operators.multimodal import (
        extract_features,
        phash64,
    )

    sketches = phash64(extract_features(media, decode="fake"))
    pairs = {
        (r.doc_a, r.doc_b)
        for r in hamming_pairs(sketches, radius=0, id_col="id",
                               sketch_col="phash").collect()
    }
    assert (1, 2) in pairs  # exact-dup media collide at radius 0


def test_incremental_dedup_against_history(spark, tmp_path):
    """New docs on a stream pair with the historical corpus AND with
    each other in the same micro-batch; unrelated docs emit nothing."""
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.streaming.dedup_stream import incremental_dedup

    cfg = DedupConfig()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    hist_docs = spark.createDataFrame(
        [("r", "old/base.py", "c0", "py", base),
         ("r", "old/other.py", "c1", "py",
          "totally different content nothing shared here at all " * 5)],
        "repo string, path string, commit string, lang string, content string",
    )
    hist_sigs = compute_signatures(hist_docs, cfg)

    t0 = datetime.datetime(2024, 1, 1)
    new_rows = [
        (t0, "r", "new/neardup.py", "c2", "py", base + "one tiny extra tail"),
        (t0, "r", "new/neardup2.py", "c3", "py", base + "another tiny tail"),
        (t0, "r", "new/unrelated.py", "c4", "py",
         "completely fresh words with no overlap whatsoever " * 5),
    ]
    src = spark.createDataFrame(new_rows, STREAM_SCHEMA)
    srcdir = str(tmp_path / "inc_src")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)

    edges_out = str(tmp_path / "inc_edges")
    q = incremental_dedup(
        stream, hist_sigs, cfg, edges_out, str(tmp_path / "inc_ckpt")
    )
    q.awaitTermination(120)

    edges = spark.read.parquet(edges_out)
    ids = compute_signatures(
        spark.createDataFrame(
            [r[1:] for r in new_rows],
            "repo string, path string, commit string, lang string, content string",
        ).unionByName(hist_docs),
        cfg,
    ).select("doc_id", "path").collect()
    path_of = {r.doc_id: r.path for r in ids}
    got = {
        frozenset((path_of[r.src], path_of[r.dst])) for r in edges.collect()
    }
    assert frozenset(("old/base.py", "new/neardup.py")) in got
    assert frozenset(("new/neardup.py", "new/neardup2.py")) in got  # within batch
    assert all("unrelated" not in a and "unrelated" not in b
               for pair in got for a, b in [tuple(pair)])


def test_incremental_dedup_shuffle_verify_equals_broadcast(
        spark, tmp_path, monkeypatch):
    """With ``BROADCAST_VERIFY_MAX_SIGS`` below the history size the
    drain verifies on the shuffle leg; its edges, every evidence column
    included, equal the default (broadcast) run's."""
    import imageduplicatefinder_spark.operators.verify as V
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.streaming.dedup_stream import incremental_dedup

    cfg = DedupConfig()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    other = "totally different content nothing shared here at all " * 5
    hist_sigs = compute_signatures(spark.createDataFrame(
        [("r", "old/base.py", "c0", "py", base),
         ("r", "old/other.py", "c1", "py", other),
         ("r", "old/host.py", "c2", "py", other + base)],
        "repo string, path string, commit string, lang string, content string",
    ), cfg)
    t0 = datetime.datetime(2024, 1, 1)
    src = spark.createDataFrame([
        (t0, "r", "new/neardup.py", "c3", "py", base + "one tiny extra tail"),
        (t0, "r", "new/neardup2.py", "c4", "py", base + "another tiny tail"),
        (t0, "r", "new/other.py", "c5", "py", other + "x"),
    ], STREAM_SCHEMA)
    srcdir = str(tmp_path / "legs_src")
    src.coalesce(1).write.parquet(srcdir)

    def drain(tag):
        stream = spark.readStream.schema(src.schema).parquet(srcdir)
        out = str(tmp_path / f"{tag}_edges")
        incremental_dedup(stream, hist_sigs, cfg, out,
                          str(tmp_path / f"{tag}_ckpt")).awaitTermination(120)
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    default = drain("broadcast")
    shuffled = []
    shuffle_leg = V._shuffle_leg
    monkeypatch.setattr(V, "_shuffle_leg", lambda *a, **k: (
        shuffled.append(1), shuffle_leg(*a, **k))[1])
    monkeypatch.setattr(V, "BROADCAST_VERIFY_MAX_SIGS", 2)
    assert drain("shuffle") == default
    assert shuffled and len(default) >= 3


def test_fetch_urls_fake_and_error_isolation(spark):
    """S10 data-plane analog: URL column -> binary payloads, with
    per-row error isolation (S4 analog) on the real-fetch path."""
    from imageduplicatefinder_spark.operators.multimodal import extract_features
    from imageduplicatefinder_spark.sources.http import fetch_urls

    urls = spark.createDataFrame(
        [("http://x/a.png",), ("http://x/b.png",), ("http://x/a.png",)],
        "url string",
    )
    got = fetch_urls(urls).collect()
    by_url = {}
    for r in got:
        by_url.setdefault(r.url, []).append(r)
    assert all(r.status == 200 and len(r.data) == 256 for r in got)
    a = by_url["http://x/a.png"]
    assert a[0].data == a[1].data                      # deterministic
    assert a[0].data != by_url["http://x/b.png"][0].data

    # fetched bytes feed the multimodal pipeline directly
    media = fetch_urls(urls).selectExpr(
        "xxhash64(url) AS id", "'image' AS kind", "data"
    )
    feats = extract_features(media, decode="fake")
    assert feats.count() == 3

    # urllib path: no network in the sandbox -> every row isolates to
    # status -1 instead of failing the task
    real = fetch_urls(urls, fetcher="urllib").collect()
    assert all(r.status == -1 and r.data is None for r in real)


def test_stateful_dup_tracker_first_seen_across_chunks(spark, tmp_path):
    """First-seen must be the global (ts, path) minimum even when one
    key's rows span several Arrow chunks: with
    arrow.maxRecordsPerBatch=1024 the 5,000 rows of one key arrive as 5
    chunks, and the earliest row is placed LAST in the single-partition
    batch so it lands in a later chunk."""
    from imageduplicatefinder_spark.streaming.dedup_stream import stateful_dup_tracker

    t0 = datetime.datetime(2024, 1, 1)
    n = 5000
    rows = [
        (t0 + datetime.timedelta(seconds=n - i), "r", f"late_{i}.py", "c", "py", "hot blob")
        for i in range(n - 1)
    ]
    rows.append((t0, "r", "true_first.py", "c", "py", "hot blob"))  # earliest, last
    src = spark.createDataFrame(rows, STREAM_SCHEMA)
    srcdir = str(tmp_path / "chunk_src")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "1024")
    try:
        q = (
            stateful_dup_tracker(stream)
            .writeStream.format("memory")
            .queryName("dup_state_chunks")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(conf, saved)
    out = spark.sql("select * from dup_state_chunks").collect()
    assert len(out) == 1
    assert out[0].first_path == "true_first.py"
    assert out[0].dup_count == n - 1


def test_ingest_window_stats_counts_bytes_not_chars(spark, tmp_path):
    """total_bytes must be octet_length: multibyte UTF-8 content."""
    t0 = datetime.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [(t0, "r", "cjk.py", "c", "py", "漢字")],  # 2 chars, 6 UTF-8 bytes
        STREAM_SCHEMA,
    )
    srcdir = str(tmp_path / "bytes_src")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    q = (
        ingest_window_stats(stream, window="1 minute")
        .writeStream.format("memory")
        .queryName("byte_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from byte_stats").collect()
    assert out[0].total_bytes == 6


def test_incremental_dedup_records_band_cap_stats(spark, tmp_path):
    """The hot-band cap's visibility contract: a mega-band thinned in a
    micro-batch must leave a record at <edges_out>_band_stats."""
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.streaming.dedup_stream import incremental_dedup

    cfg = DedupConfig(max_band_size=4)  # tiny cap so the batch trips it
    hist_docs = spark.createDataFrame(
        [("r", "old/base.py", "c0", "py",
          "unrelated historical content here " * 5)],
        "repo string, path string, commit string, lang string, content string",
    )
    hist_sigs = compute_signatures(hist_docs, cfg)

    t0 = datetime.datetime(2024, 1, 1)
    boiler = "identical license boilerplate tokens " * 10
    new_rows = [
        (t0, "r", f"new/f{i}.py", f"c{i}", "py", boiler + f"tail{i} unique")
        for i in range(12)  # 12 near-identical docs >> cap of 4
    ]
    src = spark.createDataFrame(new_rows, STREAM_SCHEMA)
    srcdir = str(tmp_path / "bs_src")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)

    edges_out = str(tmp_path / "bs_edges")
    q = incremental_dedup(
        stream, hist_sigs, cfg, edges_out, str(tmp_path / "bs_ckpt")
    )
    q.awaitTermination(120)
    stats = spark.read.parquet(edges_out + "_band_stats")
    rows = stats.collect()
    assert len(rows) > 0
    assert all(r.capped and r.band_size > 4 for r in rows)
    assert {r.side for r in rows} <= {"history", "batch"}
    assert "batch" in {r.side for r in rows}



def test_incremental_dedup_aggregates_batch_hot_bands_once(
    spark, tmp_path, monkeypatch
):
    """Each micro-batch computes its hot-band set once: the stats write
    and the kept-bands join read the same materialized rows. Every
    computed hot row bumps an accumulator, so the total must equal the
    rows recorded at <edges_out>_band_stats (history + batch); a
    recomputed batch hot set counts its rows again."""
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators import lsh
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.streaming.dedup_stream import incremental_dedup

    computed = spark.sparkContext.accumulator(0)
    real_hot_keys = lsh.hot_keys

    def counted_hot_keys(rows, keys, cap, size_col):
        def seen(_):
            computed.add(1)
            return True

        return real_hot_keys(rows, keys, cap, size_col).filter(
            F.udf(seen, "boolean")(size_col))

    monkeypatch.setattr(lsh, "hot_keys", counted_hot_keys)

    cfg = DedupConfig(max_band_size=4)
    hist_docs = spark.createDataFrame(
        [("r", "old/base.py", "c0", "py",
          "unrelated historical content here " * 5)],
        "repo string, path string, commit string, lang string, content string",
    )
    hist_sigs = compute_signatures(hist_docs, cfg)
    t0 = datetime.datetime(2024, 1, 1)
    boiler = "identical license boilerplate tokens " * 10
    src = spark.createDataFrame(
        [(t0, "r", f"new/f{i}.py", f"c{i}", "py", boiler + f"tail{i} unique")
         for i in range(12)],
        STREAM_SCHEMA,
    )
    srcdir = str(tmp_path / "once_src")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    edges_out = str(tmp_path / "once_edges")
    q = incremental_dedup(
        stream, hist_sigs, cfg, edges_out, str(tmp_path / "once_ckpt")
    )
    q.awaitTermination(120)
    sides = [r.side for r in
             spark.read.parquet(edges_out + "_band_stats").collect()]
    assert sides.count("batch") > 0  # the batch has hot bands
    assert computed.value == len(sides)

def test_incremental_dedup_continued_stream_compiles_nothing(spark, tmp_path):
    """A stream continued from its checkpoint runs its new batch ids on
    generated code that is already compiled (the batch id lives in the
    output path, never in the plan), keeps the discovered ``batch_id``
    column, and a replayed batch replaces its edges, not duplicates them."""
    import os

    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.session import codegen_compiles
    from imageduplicatefinder_spark.streaming.dedup_stream import incremental_dedup

    cfg = DedupConfig()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    hist_docs = spark.createDataFrame(
        [("r", "old/base.py", "c0", "py", base)],
        "repo string, path string, commit string, lang string, content string",
    )
    hist_sigs = compute_signatures(hist_docs, cfg)
    srcdir = str(tmp_path / "cont_src")
    edges_out = str(tmp_path / "cont_edges")
    ckpt = str(tmp_path / "cont_ckpt")
    t0 = datetime.datetime(2024, 1, 1)

    def add_shard(i):
        rows = [(t0, "r", f"new/dup{i}.py", f"c{i}", "py", base + f"tail {i}"),
                (t0, "r", f"new/solo{i}.py", f"s{i}", "py",
                 f"fresh words of shard {i} share nothing " * 5)]
        (spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(1)
         .write.mode("append").parquet(srcdir))

    def drain():
        """Continue the stream from its checkpoint; return the classes
        compiled while it ran."""
        c0 = codegen_compiles(spark)
        stream = spark.readStream.schema(STREAM_SCHEMA).parquet(srcdir)
        q = incremental_dedup(stream, hist_sigs, cfg, edges_out, ckpt)
        assert q.awaitTermination(120)
        return codegen_compiles(spark) - c0

    add_shard(0)
    drain()  # batch 0 compiles the stream's code
    add_shard(1)
    assert drain() == 0  # batch 1: a new id, no new classes

    edges = spark.read.parquet(edges_out)
    assert "batch_id" in edges.columns
    before = sorted(edges.select("batch_id", "src", "dst").collect())
    assert {r.batch_id for r in before} == {0, 1}
    assert len(before) == 2  # one history near-dup per shard

    # forget batch 1's commit: the restarted query replays it
    for name in ("1", ".1.crc"):
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    assert drain() == 0
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))  # it re-ran
    after = sorted(spark.read.parquet(edges_out)
                   .select("batch_id", "src", "dst").collect())
    assert after == before


def test_incremental_edges_refresh_clusters_equals_full_recompute(spark, tmp_path):
    """Lambda-architecture loop closed: batch clusters over corpus v1,
    stream new docs through incremental_dedup, fold the emitted edges
    into the old labels with refresh_clusters — memberships must equal
    clustering the accumulated corpus from scratch."""
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.components import (
        connected_components,
        refresh_clusters,
    )
    from imageduplicatefinder_spark.operators.lsh import band_table, candidate_pairs
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.operators.verify import verify_pairs
    from imageduplicatefinder_spark.streaming.dedup_stream import incremental_dedup

    cfg = DedupConfig()
    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    fam_b = "lambda mu nu xi omicron pi rho sigma tau upsilon " * 5
    schema = "repo string, path string, commit string, lang string, content string"
    v1_rows = [
        ("r", "v1/a1.py", "c1", "py", fam_a),
        ("r", "v1/a2.py", "c2", "py", fam_a + "tiny tail"),
        ("r", "v1/b1.py", "c3", "py", fam_b),
        ("r", "v1/solo.py", "c4", "py", "nothing shared with anyone " * 5),
    ]
    v1 = spark.createDataFrame(v1_rows, schema)
    sigs1 = compute_signatures(v1, cfg).localCheckpoint(eager=True)

    def cluster(sigs):
        cands = candidate_pairs(band_table(sigs, cfg), cfg)
        edges = verify_pairs(cands, sigs, cfg).filter("verified")
        return connected_components(edges.select("src", "dst"))

    old_labels = cluster(sigs1)

    t0 = datetime.datetime(2024, 1, 1)
    v2_rows = [
        (t0, "r", "v2/a3.py", "c5", "py", fam_a + "another tail"),   # joins A
        (t0, "r", "v2/b2.py", "c6", "py", fam_b + "small delta"),    # joins B
        (t0, "r", "v2/new1.py", "c7", "py", "fresh family one " * 10),
        (t0, "r", "v2/new2.py", "c8", "py", "fresh family one " * 10 + "x"),
    ]
    src = spark.createDataFrame(v2_rows, STREAM_SCHEMA)
    srcdir = str(tmp_path / "lam_src")
    src.coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    edges_out = str(tmp_path / "lam_edges")
    q = incremental_dedup(stream, sigs1, cfg, edges_out,
                          str(tmp_path / "lam_ckpt"))
    q.awaitTermination(120)
    new_edges = spark.read.parquet(edges_out).select("src", "dst")

    refreshed = refresh_clusters(old_labels, new_edges)

    # ground truth: full recompute over v1 + v2
    all_docs = v1.unionByName(
        spark.createDataFrame([r[1:] for r in v2_rows], schema)
    )
    full = cluster(compute_signatures(all_docs, cfg))

    def membership(df):
        groups = {}
        for r in df.collect():
            groups.setdefault(r.cluster_id, set()).add(r.doc_id)
        return {frozenset(v) for v in groups.values()
                if len(v) >= 2}  # compare multi-member families

    assert membership(refreshed) == membership(full)
    # both incremental joiners actually landed in their old families
    ids = {r.path: r.doc_id for r in compute_signatures(all_docs, cfg)
           .select("path", "doc_id").collect()}
    fam = {frozenset(m) for m in membership(refreshed)}
    assert any({ids["v1/a1.py"], ids["v2/a3.py"]} <= f for f in fam)
    assert any({ids["v1/b1.py"], ids["v2/b2.py"]} <= f for f in fam)
    assert any({ids["v2/new1.py"], ids["v2/new2.py"]} <= f for f in fam)


def test_stream_documents_jsonl_skips_corrupt_lines(spark, tmp_path):
    """Streaming JSONL ingest: good lines flow through the availableNow
    micro-batch, the corrupt line is dropped (skip) or surfaced (keep),
    FAILFAST is refused for a continuous query."""
    import pytest

    from imageduplicatefinder_spark.streaming.dedup_stream import (
        stream_documents_jsonl,
    )

    d = tmp_path / "shards"
    d.mkdir()
    (d / "s0.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha", "lang": "en", "source": "s", "n_chars": 5}\n'
        "NOT JSON AT ALL\n"
        '{"doc_id": 2, "text": "beta", "lang": "en", "source": "s", "n_chars": 4}\n'
    )
    q = (
        stream_documents_jsonl(spark, str(d))
        .writeStream.format("memory")
        .queryName("jsonl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from jsonl_out").collect()
    assert sorted((r.doc_id, r.text) for r in out) == [(1, "alpha"), (2, "beta")]

    with pytest.raises(ValueError):
        stream_documents_jsonl(spark, str(d), bad_lines="strict")


# ---------------------------------------------------------------------------
# Codec-free BMP decode path: the reference goldens with NO optional deps
# (ref extension list includes .bmp — app/Commands.java:74)
# ---------------------------------------------------------------------------


def test_bmp_codec_roundtrip_variants():
    """encode_bmp -> decode_bmp is exact BT.601 luminance for RGB and
    grayscale inputs, at widths that do and don't need row padding;
    top-down and 32-bpp payloads decode identically to their bottom-up
    24-bpp twins; malformed payloads raise ValueError."""
    import struct

    import numpy as np
    import pytest as _pytest

    from imageduplicatefinder_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(42)
    for shape in ((13, 21, 3), (8, 8, 3), (5, 1, 3), (1, 7, 3)):
        rgb = rng.integers(0, 256, shape, dtype=np.uint8)
        w, h, gray = decode_bmp(encode_bmp(rgb))
        assert (w, h) == (shape[1], shape[0])
        ref = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        assert np.abs(gray - ref).max() < 1e-9

    # hand-build a top-down 32-bpp BMP and check it decodes like the
    # bottom-up 24-bpp encoding of the same pixels
    rgb = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)
    h_, w_ = rgb.shape[:2]
    bgra = np.zeros((h_, w_, 4), dtype=np.uint8)
    bgra[..., :3] = rgb[..., ::-1]
    pix = bgra.tobytes()  # top-down: row 0 first, negative height
    off = 14 + 40
    blob = (
        struct.pack("<2sIHHI", b"BM", off + len(pix), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w_, -h_, 1, 32, 0,
                      len(pix), 0, 0, 0, 0)
        + pix
    )
    _, _, gray32 = decode_bmp(blob)
    _, _, gray24 = decode_bmp(encode_bmp(rgb))
    assert np.abs(gray32 - gray24).max() < 1e-9

    # 8-bpp palette: identity grayscale palette -> luminance == index
    idx = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    stride = ((8 * 5 + 31) // 32) * 4
    rows = np.zeros((3, stride), dtype=np.uint8)
    rows[:, :5] = idx
    pix8 = rows[::-1].tobytes()
    pal = bytes(
        b for v in range(256) for b in (v, v, v, 0)
    )  # B=G=R=v
    off8 = 14 + 40 + 1024
    blob8 = (
        struct.pack("<2sIHHI", b"BM", off8 + len(pix8), 0, 0, off8)
        + struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 8, 0,
                      len(pix8), 0, 0, 256, 0)
        + pal
        + pix8
    )
    _, _, gray8 = decode_bmp(blob8)
    assert np.abs(gray8 - idx.astype(np.float64)).max() < 1e-9

    for bad in (b"", b"BM", b"PNGnot a bmp" * 10,
                encode_bmp(np.zeros((4, 4), np.uint8))[:-20]):  # truncated
        with _pytest.raises(ValueError):
            decode_bmp(bad)


def test_bmp_decode_phash_reference_goldens_always_on(spark):
    """The reference pHash goldens (black image -> sketch 0, constant
    non-zero image -> sketch 1) through a REAL decode, unconditionally —
    no Pillow required (ref: src/test/java/hash/PHashDctTest.java:49-99)."""
    import numpy as np

    from imageduplicatefinder_spark.operators.multimodal import (
        REAL_FEATURE_DIM,
        encode_bmp,
        phash64,
    )

    rows = [
        (1, "image", encode_bmp(np.zeros((32, 32), np.uint8))),
        (2, "image", encode_bmp(np.full((32, 32), 200, np.uint8))),
        (3, "image", b"not an image"),  # malformed -> degenerate row
    ]
    media = spark.createDataFrame(rows, "id long, kind string, data binary")
    feats = extract_features(media, decode="bmp")
    frows = {r.id: r for r in feats.collect()}
    assert frows[1].width == 32 and frows[1].height == 32
    assert len(frows[1].feature) == REAL_FEATURE_DIM
    assert frows[3].width == 0 and frows[3].feature == [0.0] * REAL_FEATURE_DIM
    hashes = {r.id: r.phash for r in phash64(feats).collect()}
    assert hashes[1] == 0  # black golden
    assert hashes[2] == 1  # constant golden (DC bit only)
    assert hashes[3] == 0  # degenerate row behaves like black


def test_bmp_perturbation_family_e2e(spark):
    """Fixture-family E2E over real BMPs: a base image, mild per-pixel
    perturbations of it, and unrelated noise images — decode="bmp" ->
    phash64 -> hamming_pairs must group the family and exclude the
    noise (the always-on analog of the PIL-gated decode E2E)."""
    import numpy as np

    from imageduplicatefinder_spark.operators.hamming_lsh import hamming_pairs
    from imageduplicatefinder_spark.operators.multimodal import (
        encode_bmp,
        phash64,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    rows = []
    for i in range(4):  # family 1..4: base +- small noise
        noisy = np.clip(
            base.astype(np.int16) + rng.integers(-6, 7, base.shape), 0, 255
        ).astype(np.uint8)
        rows.append((i + 1, "image", encode_bmp(noisy)))
    for i in range(4):  # unrelated 101..104
        rows.append(
            (101 + i, "image",
             encode_bmp(rng.integers(0, 256, (32, 32), dtype=np.uint8)))
        )
    media = spark.createDataFrame(rows, "id long, kind string, data binary")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in hamming_pairs(
            phash64(extract_features(media, decode="bmp")),
            radius=6, id_col="id", sketch_col="phash",
        ).collect()
    }
    fam = {1, 2, 3, 4}
    from itertools import combinations as _comb

    for a, b in _comb(sorted(fam), 2):
        assert (a, b) in pairs, f"family pair {(a, b)} missing"
    assert not any(
        (a in fam) != (b in fam) for a, b in pairs
    ), "family linked to an unrelated image"


def test_png_codec_roundtrip_and_filters():
    """encode_png -> decode_png is exact BT.601 luminance for RGB and
    exact identity for grayscale at assorted shapes; every scanline
    filter type (Sub/Up/Average/Paeth) un-filters correctly; palette
    and alpha color types decode; malformed payloads raise ValueError."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from imageduplicatefinder_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(42)
    for shape in ((13, 21, 3), (8, 8, 3), (5, 1, 3), (1, 7, 3)):
        rgb = rng.integers(0, 256, shape, dtype=np.uint8)
        w, h, gray = decode_png(encode_png(rgb))
        assert (w, h) == (shape[1], shape[0])
        ref = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        assert np.abs(gray - ref).max() < 1e-9
    g8 = rng.integers(0, 256, (6, 9), dtype=np.uint8)
    _, _, gray0 = decode_png(encode_png(g8))
    assert np.array_equal(gray0, g8.astype(np.float64))

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))

    def png_with_filter(px, ftype, ctype=2):
        # hand-apply the spec filter per scanline so decode must invert it
        h, w = px.shape[:2]
        nch = px.shape[2] if px.ndim == 3 else 1
        raw = px.reshape(h, w * nch).astype(np.int64)
        prev = np.zeros(w * nch, dtype=np.int64)
        body = b""
        for y in range(h):
            cur, line = raw[y], np.empty(w * nch, dtype=np.int64)
            for x in range(w * nch):
                a = cur[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                pred = {1: a, 2: b, 3: (a + b) >> 1}.get(ftype)
                if pred is None:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[x] = (cur[x] - pred) & 0xFF
            body += bytes([ftype]) + bytes(line.astype(np.uint8))
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b""))

    rgb = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    _, _, want = decode_png(encode_png(rgb))
    for ftype in (1, 2, 3, 4):
        _, _, got = decode_png(png_with_filter(rgb, ftype))
        assert np.abs(got - want).max() < 1e-9, f"filter {ftype} mismatch"

    # palette (color type 3): grayscale identity palette -> luminance==index
    idx = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    pal = bytes(b for v in range(256) for b in (v, v, v))
    body = b"".join(b"\x00" + idx[y].tobytes() for y in range(3))
    ihdr3 = struct.pack(">IIBBBBB", 5, 3, 8, 3, 0, 0, 0)
    blob3 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr3)
             + chunk(b"PLTE", pal)
             + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b""))
    _, _, gray3 = decode_png(blob3)
    assert np.abs(gray3 - idx.astype(np.float64)).max() < 1e-9

    # RGBA (6) and gray+alpha (4): alpha ignored, channels as-is
    rgba = np.zeros((2, 2, 4), dtype=np.uint8)
    rgba[..., :3] = rgb[:2, :2]
    rgba[..., 3] = 7
    body6 = b"".join(b"\x00" + rgba[y].tobytes() for y in range(2))
    ihdr6 = struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)
    blob6 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr6)
             + chunk(b"IDAT", zlib.compress(body6)) + chunk(b"IEND", b""))
    _, _, gray6 = decode_png(blob6)
    assert np.abs(gray6 - want[:2, :2]).max() < 1e-9

    full = encode_png(np.zeros((4, 4), np.uint8))
    for bad in (
        b"", b"\x89PNG\r\n\x1a\n", b"BMnot a png" * 10,
        full[:-20],                        # truncated inside IDAT
        full[:33] + chunk(b"IDAT", b"\x00" * 10)
        + chunk(b"IEND", b""),             # well-formed chunks, bad zlib
    ):
        with _pytest.raises(ValueError):
            decode_png(bad)
    # clipping only the IEND trailer leaves a decodable image
    w_, h_, _ = decode_png(full[:-12])
    assert (w_, h_) == (4, 4)


def test_auto_decode_dispatches_bmp_and_png(spark):
    """decode="auto" must route BMP and PNG payloads of the same pixels
    to bit-identical features, and degrade unknown payloads to the
    degenerate row — the per-extension fan-in analog of
    app/Commands.java:74."""
    import numpy as np

    from imageduplicatefinder_spark.operators.multimodal import (
        REAL_FEATURE_DIM,
        encode_bmp,
        encode_png,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    rows = [
        (1, "image", encode_bmp(img)),
        (2, "image", encode_png(img)),
        (3, "image", b"GIF89a not supported"),
    ]
    media = spark.createDataFrame(rows, "id long, kind string, data binary")
    got = {r.id: r for r in
           extract_features(media, decode="auto").collect()}
    assert got[1].feature == got[2].feature
    assert (got[1].width, got[1].height) == (16, 16)
    assert got[3].width == 0 and got[3].feature == [0.0] * REAL_FEATURE_DIM


@pytest.mark.skipif(
    not __import__(
        "imageduplicatefinder_spark.operators.multimodal",
        fromlist=["HAS_PIL"],
    ).HAS_PIL,
    reason="Pillow not installed",
)
def test_png_cross_check_vs_pil():
    """With Pillow present, our PNG writer's output must decode in PIL
    to the exact pixels, and a PIL-encoded PNG must decode exactly in
    our reader (PNG is lossless, so both directions are bit-exact)."""
    import io

    import numpy as np
    from PIL import Image

    from imageduplicatefinder_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (18, 25), dtype=np.uint8)
    pil_img = Image.open(io.BytesIO(encode_png(img)))
    assert np.array_equal(np.asarray(pil_img), img)
    buf = io.BytesIO()
    Image.fromarray(img, mode="L").save(buf, format="PNG")
    w, h, gray = decode_png(buf.getvalue())
    assert (w, h) == (25, 18)
    assert np.array_equal(gray, img.astype(np.float64))
