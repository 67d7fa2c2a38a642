"""End-to-end pipeline tests on the planted synthetic corpus
(ref style: src/test/java/app/CommandsTest.java golden E2E tests, with
the fixture corpus analog of FIXTURES.md §3)."""

import hashlib
import tempfile
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.plans.pipeline import DedupPipeline
from imageduplicatefinder_spark.sources.generator import (
    GeneratedCorpus,
    corpus_to_dataframe,
    generate_corpus,
)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_families=8, n_background=60, seed=42)


@pytest.fixture(scope="module")
def result(spark, corpus):
    df = corpus_to_dataframe(spark, corpus)
    pipe = DedupPipeline(spark, DedupConfig(), checkpoint_dir=tempfile.mkdtemp())
    return pipe.run(df)


def _found_pairs(result):
    sig = result.documents_hashed.select("doc_id", "repo", "path", "commit").collect()
    key = {r.doc_id: GeneratedCorpus.key(r.repo, r.path, r.commit) for r in sig}
    byc = {}
    for r in result.components.collect():
        byc.setdefault(r.cluster_id, []).append(key[r.doc_id])
    found = set()
    for members in byc.values():
        for a, b in combinations(sorted(members), 2):
            found.add((a, b))
    return found


def test_sha256_per_row_invariant(result, corpus):
    """Per-row content sha256 equality vs the generator oracle
    (BASELINE.json input_hint)."""
    oracle = {
        GeneratedCorpus.key(r, p, c): hashlib.sha256(content.encode()).hexdigest()
        for (r, p, c, _, content) in corpus.rows
    }
    got = result.documents_hashed.select("repo", "path", "commit", "sha256").collect()
    assert len(got) == len(oracle)
    for r in got:
        assert r.sha256 == oracle[GeneratedCorpus.key(r.repo, r.path, r.commit)]


def test_dup_pair_recall_and_precision(result, corpus):
    """north_rule: dup-pair recall >= 0.99 at the pinned config."""
    found = _found_pairs(result)
    tp = corpus.true_pairs
    recall = len(found & tp) / len(tp)
    precision = len(found & tp) / len(found)
    assert recall >= 0.99, f"recall {recall}"
    assert precision >= 0.99, f"precision {precision}"


def test_containment_pairs_found(result, corpus):
    """Watermark-analog: base embedded in host must be caught
    (suffix/shingle containment path)."""
    found = _found_pairs(result)
    base_host = {p for p in corpus.containment_pairs if "/src/base_" in p[0] or "/src/base_" in p[1]}
    got = len(found & base_host) / len(base_host)
    assert got == 1.0


def test_decoys_not_clustered(result):
    decoy_rows = (
        result.clusters.filter(F.col("path").contains("decoy")).count()
    )
    assert decoy_rows == 0


def test_exact_dups_share_cluster(result):
    # base_N and copy_N have identical content -> same cluster always
    pairs = (
        result.clusters.filter(F.col("path").rlike("src/(base|copy)_"))
        .groupBy("repo", "cluster_id")
        .count()
        .filter("count >= 2")
        .count()
    )
    assert pairs == 8  # one per family


def test_one_keep_per_cluster(result):
    agg = (
        result.plan.groupBy("cluster_id")
        .agg(F.sum(F.when(F.col("action") == "KEEP", 1).otherwise(0)).alias("keeps"))
        .collect()
    )
    assert all(r.keeps == 1 for r in agg)


def test_plan_keeper_is_largest(result):
    mx = result.plan.groupBy("cluster_id").agg(F.max("size").alias("mx"))
    keeps = result.plan.filter("action='KEEP'").join(mx, on="cluster_id")
    assert keeps.filter(F.col("size") != F.col("mx")).count() == 0


def test_resume_reuses_checkpoints(spark, corpus):
    df = corpus_to_dataframe(spark, corpus)
    d = tempfile.mkdtemp()
    DedupPipeline(spark, DedupConfig(), checkpoint_dir=d).run(df)
    pipe2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=d)
    pipe2.run(df)
    assert all(m.reused for m in pipe2.ckpt.metrics)


#: the checkpointed stages of a default-config run, in order
DEFAULT_STAGES = ("documents_hashed", "signatures", "band_stats", "bands",
                  "candidates", "edges", "components", "clusters", "plan")


class _StageCrash(RuntimeError):
    pass


def _sorted_plan(res):
    return sorted(map(str, res.plan.collect()))


@pytest.fixture(scope="module")
def small_corpus():
    return generate_corpus(n_families=3, n_background=12, seed=5)


@pytest.fixture(scope="module")
def small_plan(spark, small_corpus):
    df = corpus_to_dataframe(spark, small_corpus)
    return _sorted_plan(DedupPipeline(
        spark, DedupConfig(), checkpoint_dir=tempfile.mkdtemp()).run(df))


@pytest.mark.parametrize("crash_stage", DEFAULT_STAGES)
def test_resume_after_crash_in_every_stage(spark, small_corpus, small_plan,
                                           crash_stage):
    """A run that dies while building any stage, resumed on the same
    checkpoint_dir, reuses every stage before it and plans exactly what
    an uninterrupted run plans."""
    df = corpus_to_dataframe(spark, small_corpus)
    d = tempfile.mkdtemp()
    crashed = DedupPipeline(spark, DedupConfig(), checkpoint_dir=d)
    materialize = crashed.ckpt.materialize

    def crash_at(stage, df_fn, *args, **kwargs):
        if stage == crash_stage:
            def df_fn():
                raise _StageCrash(stage)
        return materialize(stage, df_fn, *args, **kwargs)

    crashed.ckpt.materialize = crash_at
    with pytest.raises(_StageCrash):
        crashed.run(df)
    assert [m.stage for m in crashed.ckpt.metrics] == list(
        DEFAULT_STAGES[:DEFAULT_STAGES.index(crash_stage)])

    resumed = DedupPipeline(spark, DedupConfig(), checkpoint_dir=d)
    assert small_plan  # the corpus plants duplicate families
    assert _sorted_plan(resumed.run(df)) == small_plan
    reused = {m.stage: m.reused for m in resumed.ckpt.metrics}
    assert list(reused) == list(DEFAULT_STAGES)
    assert [s for s in DEFAULT_STAGES if reused[s]] == list(
        DEFAULT_STAGES[:DEFAULT_STAGES.index(crash_stage)])


def test_resume_different_corpus_recomputes(spark, corpus):
    """Same config + same checkpoint_dir but a DIFFERENT input must
    recompute every stage, not replay the previous corpus's results
    (checkpoint identity = config_hash + input signature)."""
    d = tempfile.mkdtemp()
    df1 = corpus_to_dataframe(spark, corpus)
    DedupPipeline(spark, DedupConfig(), checkpoint_dir=d).run(df1)
    other = generate_corpus(n_families=3, n_background=20, seed=7)
    df2 = corpus_to_dataframe(spark, other)
    pipe2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=d)
    res2 = pipe2.run(df2)
    assert not any(m.reused for m in pipe2.ckpt.metrics)
    assert res2.documents_hashed.count() == df2.count()


@pytest.fixture
def colliding_docs(spark, monkeypatch):
    """Two distinct docs under a degenerate hash (constant doc_id): a
    real xxhash64 collision can't be synthesized from data."""
    import imageduplicatefinder_spark.plans.pipeline as pl
    from imageduplicatefinder_spark.operators.signatures import (
        hash_documents,
    )

    def colliding_hash(documents, langs=None):
        return hash_documents(documents, langs=langs).withColumn(
            "doc_id", F.lit(1).cast("long")
        )

    monkeypatch.setattr(pl, "hash_documents", colliding_hash)
    return spark.createDataFrame(
        [("r", "a.py", "c1", "py", "alpha beta gamma delta " * 5),
         ("r", "b.py", "c1", "py", "totally different words here " * 5)],
        "repo string, path string, commit string, lang string, content string",
    )


def test_doc_id_collision_still_raises(spark, colliding_docs):
    """The collision guard runs concurrently with the downstream stages
    (guide §2.6 job overlap) but ``run`` must still raise before
    returning: the deferred check surfaces as RuntimeError."""
    with pytest.raises(RuntimeError, match="doc_id collision"):
        DedupPipeline(spark, DedupConfig(),
                      checkpoint_dir=tempfile.mkdtemp()).run(colliding_docs)


def test_doc_id_collision_check_without_pinned_threads(
    spark, colliding_docs, monkeypatch
):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target(session)``
    returns the session itself; the check must still run and raise."""
    import imageduplicatefinder_spark.plans.pipeline as pl

    monkeypatch.setattr(pl, "inheritable_thread_target", lambda f: f)
    with pytest.raises(RuntimeError, match="doc_id collision"):
        DedupPipeline(spark, DedupConfig(),
                      checkpoint_dir=tempfile.mkdtemp()).run(colliding_docs)


def test_doc_id_collision_surfaces_with_downstream_failure(
    spark, colliding_docs, monkeypatch
):
    """A stage failing after the concurrent check was submitted must
    carry the collision along, and the check's pool must shut down."""
    from concurrent.futures import ThreadPoolExecutor

    import imageduplicatefinder_spark.plans.pipeline as pl

    pools = []

    class RecordingPool(ThreadPoolExecutor):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            pools.append(self)

    def broken_plan(clusters):
        raise ValueError("plan stage failed")

    monkeypatch.setattr(pl, "ThreadPoolExecutor", RecordingPool)
    monkeypatch.setattr(pl, "keeper_plan", broken_plan)
    with pytest.raises(ValueError, match="plan stage failed") as ei:
        DedupPipeline(spark, DedupConfig(),
                      checkpoint_dir=tempfile.mkdtemp()).run(colliding_docs)
    assert any("doc_id collision" in n
               for n in getattr(ei.value, "__notes__", []))
    assert len(pools) == 1 and pools[0]._shutdown
    assert not any(t.is_alive() for t in pools[0]._threads)


def test_flush_metrics_torn_write_keeps_table_readable(spark, tmp_path,
                                                       monkeypatch):
    """A crash inside the parquet write must not leave a torn part file
    that breaks every later ``metrics_table()`` read."""
    import pyarrow.parquet as pq

    from imageduplicatefinder_spark.plans.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, str(tmp_path), "h")

    def add_row(stage):
        ckpt._append_metrics_table(
            {"stage": stage, "config_hash": "h", "wall_s": 0.1,
             "partitions": {0: 3}},
            reused=False,
        )

    add_row("first")
    ckpt.flush_metrics()

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk full")

    add_row("second")
    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", torn_write)
        with pytest.raises(OSError, match="disk full"):
            ckpt.flush_metrics()
    got = sorted(r.stage for r in ckpt.metrics_table().collect())
    assert got == ["first", "second"]


def test_null_key_column_does_not_false_alarm_collision_guard(spark):
    """Null commit (a legitimately incomplete natural key) must not trip
    the doc_id collision check — count_distinct over bare columns skips
    null-containing rows; the guard counts a never-null struct."""
    docs = spark.createDataFrame(
        [("r", "a.py", None, "py", "alpha beta gamma delta " * 5),
         ("r", "b.py", None, "py", "totally different words here " * 5)],
        "repo string, path string, commit string, lang string, content string",
    )
    res = DedupPipeline(spark, DedupConfig(),
                        checkpoint_dir=tempfile.mkdtemp()).run(docs)
    assert res.documents_hashed.count() == 2  # no RuntimeError


def test_corrupt_meta_sidecar_recomputes(spark, corpus):
    """A truncated _meta.json (crash mid-dump) must read as 'checkpoint
    absent' and recompute — not permanently fail every resume."""
    import os

    df = corpus_to_dataframe(spark, corpus)
    d = tempfile.mkdtemp()
    DedupPipeline(spark, DedupConfig(), checkpoint_dir=d).run(df)
    # corrupt one stage's sidecar
    cfg_hash = DedupConfig().config_hash()
    meta = os.path.join(d, "signatures", cfg_hash, "_meta.json")
    with open(meta, "w") as f:
        f.write('{"stage": "signatu')  # truncated
    pipe2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=d)
    pipe2.run(df)  # must not raise
    by_stage = {m.stage: m.reused for m in pipe2.ckpt.metrics}
    assert by_stage["signatures"] is False      # recomputed
    assert by_stage["documents_hashed"] is True  # others still reused


def test_metrics_table_records_reused_rows(spark, corpus):
    """Resumed runs append reused=true rows to the durable _metrics
    table — the per-partition proof of what a resume reused."""
    df = corpus_to_dataframe(spark, corpus)
    d = tempfile.mkdtemp()
    p1 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=d)
    p1.run(df)
    p2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=d)
    p2.run(df)
    m = p2.ckpt.metrics_table()
    assert m.filter("reused").count() > 0
    assert m.filter("NOT reused").count() > 0


def test_repeated_run_compiles_nothing(spark):
    """Generated code is a per-session cost: a second identical run in
    one session (fresh checkpoint dir, so every stage recomputes) finds
    all of its classes in the codegen cache."""
    import json
    import os

    from imageduplicatefinder_spark.session import codegen_compiles

    corpus = generate_corpus(n_families=4, n_background=30, seed=11)
    for _ in range(2):
        c0 = codegen_compiles(spark)
        pipe = DedupPipeline(spark, DedupConfig(),
                             checkpoint_dir=tempfile.mkdtemp())
        pipe.run(corpus_to_dataframe(spark, corpus))
        total = codegen_compiles(spark) - c0
    assert not any(m.reused for m in pipe.ckpt.metrics)
    assert sum(m.codegen_compiles for m in pipe.ckpt.metrics) == 0
    assert total == 0  # nothing outside the stages either
    meta = os.path.join(pipe.checkpoint_dir, "plan", pipe.cfg.config_hash(),
                        "_meta.json")
    assert json.load(open(meta))["codegen_compiles"] == 0


def test_radius_from_threshold_matches_reference_formula():
    """Web-path conversion (ref: app/Commands.java:406-410):
    radius = round((1 - t) * 64)."""
    from imageduplicatefinder_spark.config import DedupConfig

    assert DedupConfig.radius_from_threshold(1.0) == 0
    assert DedupConfig.radius_from_threshold(0.84375) == 10  # CLI default
    assert DedupConfig.radius_from_threshold(0.5) == 32
    assert DedupConfig.radius_from_threshold(0.0) == 64


def test_pipeline_langs_filter_restricts_corpus(spark, tmp_path):
    """The pushed-down extension-filter analog on the pipeline entry
    (ref: app/Commands.java:74): only matching langs are processed."""
    import tempfile

    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

    body = "alpha beta gamma delta epsilon " * 10
    docs = spark.createDataFrame(
        [("r", "a.py", "c1", "py", body),
         ("r", "b.py", "c2", "py", body + "tail"),
         ("r", "c.go", "c3", "go", body),
         ("r", "d.go", "c4", "go", body + "tail")],
        "repo string, path string, commit string, lang string, content string",
    )
    res = DedupPipeline(
        spark, DedupConfig(), checkpoint_dir=tempfile.mkdtemp()
    ).run(docs, langs=["py"])
    paths = {r.path for r in res.plan.collect()}
    assert paths == {"a.py", "b.py"}  # go docs never enter the pipeline


@pytest.mark.parametrize("scheme", ["prefix"])
def test_pipeline_candidate_scheme_recall(spark, corpus, scheme):
    """candidates="prefix" (AllPairs/PPJoin, exact for the verify rule)
    must reach the same recall/precision bar as the LSH default on the
    planted corpus — prefix filtering has NO recall knob, so anything
    below 1.0 recall here is a prefix-length bug, not tuning."""
    df = corpus_to_dataframe(spark, corpus)
    pipe = DedupPipeline(
        spark, DedupConfig(candidates=scheme),
        checkpoint_dir=tempfile.mkdtemp(),
    )
    res = pipe.run(df)
    found = _found_pairs(res)
    tp = corpus.true_pairs
    recall = len(found & tp) / len(tp)
    precision = len(found & tp) / len(found)
    assert recall >= 0.99, f"{scheme} recall {recall}"
    assert precision >= 0.99, f"{scheme} precision {precision}"


def test_candidates_scheme_config_hash():
    """Non-default candidate schemes must invalidate checkpoints
    (different pair semantics); the "lsh" default must hash identically
    to the pre-knob format so existing checkpoints stay valid."""
    lsh = DedupConfig().config_hash()
    assert DedupConfig(candidates="prefix").config_hash() != lsh
    assert DedupConfig(candidates="lsh").config_hash() == lsh
    for bad in ("minhash", "exact"):
        with pytest.raises(ValueError):
            DedupConfig(candidates=bad)


def test_pipeline_memory_durability_matches_disk(spark, corpus):
    """durability="memory" (localCheckpoint stages, no parquet) must
    produce the identical plan to the durable disk mode — it changes
    WHERE stages materialize, never what they compute."""
    df = corpus_to_dataframe(spark, corpus)
    disk = DedupPipeline(
        spark, DedupConfig(), checkpoint_dir=tempfile.mkdtemp()
    ).run(df)
    mem_pipe = DedupPipeline(
        spark, DedupConfig(), checkpoint_dir=tempfile.mkdtemp(),
        durability="memory",
    )
    mem = mem_pipe.run(df)
    d = {(r.cluster_id, r.path, r.action) for r in disk.plan.collect()}
    m = {(r.cluster_id, r.path, r.action) for r in mem.plan.collect()}
    assert d == m and len(d) > 0
    # metrics still recorded per stage, none marked reused
    assert len(mem_pipe.ckpt.metrics) > 0
    assert not any(s.reused for s in mem_pipe.ckpt.metrics)
    with pytest.raises(ValueError):
        DedupPipeline(spark, DedupConfig(),
                      checkpoint_dir=tempfile.mkdtemp(),
                      durability="ram")


def test_quality_gate_filters_ingest(spark):
    """With cfg.quality_gate on, minified/autogenerated junk never
    reaches the hash stage; the surviving twins still cluster; the
    enabled gate gets its own config hash (checkpoints don't cross)."""
    body = "alpha beta gamma delta epsilon zeta\n" * 8
    docs = spark.createDataFrame(
        [
            ("r", "a.py", "c1", "py", body),
            ("r", "b.py", "c2", "py", body),            # exact twin
            ("r", "gen.py", "c3", "py",
             "AUTO-GENERATED do not edit\n" + body),    # autogen marker
            ("r", "min.js", "c4", "js", "x" * 2000),    # minified blob
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    gated_cfg = DedupConfig(quality_gate=True)
    res = DedupPipeline(spark, gated_cfg,
                        checkpoint_dir=tempfile.mkdtemp()).run(docs)
    hashed = {r.path for r in res.documents_hashed.collect()}
    assert hashed == {"a.py", "b.py"}
    plan = {r.path: r.action for r in res.plan.collect()}
    assert sorted(plan.values()) == ["DELETE", "KEEP"]
    # gate off: everything is hashed (reference behavior)
    res_off = DedupPipeline(spark, DedupConfig(),
                            checkpoint_dir=tempfile.mkdtemp()).run(docs)
    assert res_off.documents_hashed.count() == 4
    assert gated_cfg.config_hash() != DedupConfig().config_hash()
