"""The benchmark's workloads.

Each workload is a closed loop: one client issues one operation at a
time against warm, cached input. A workload

- ``build``s its input files from the seed (pure Python, no Spark);
- ``load``s them into Spark and caches them;
- ``warm``s up with untimed operations, so first-run costs (JIT, class
  loading, Python worker start) land in set-up;
- runs timed ``op``s, each returning an :class:`OpResult`;
- ``check``s every op's output, untimed.

Every call into the engine is tagged with the job group
``<op tag>:<layer>`` so a traced run can attribute Spark's event log to
layers. Layers are timed from outside: the wall of the benchmark's own
call into a public function.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))

STAGES = ("documents_hashed", "signatures", "band_stats", "bands",
          "candidates", "edges", "components", "clusters", "plan")
QUERY_NAMES = ("edit_distance_pairs", "simhash_radius_clusters",
               "dedup_funnel_stats", "near_dup_clusters_exact",
               "winnow_match_pairs", "tfidf_cosine_dense_pairs",
               "top_orders_by_revenue", "duplicate_ngram_coverage")
CATALOG_EXPECTED = os.path.join(HERE, "catalog_expected.json")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    nproc: int

    def group(self, tag: str, layer: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{tag}:{layer}", layer)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class OpResult:
    tag: str
    wall_s: float = 0.0
    docs: int = 0
    # outside walls of the layers this op called into
    layer_wall: dict[str, float] = field(default_factory=dict)
    # workload-specific end-to-end extras (resume_s, batch times, ...)
    extra: dict = field(default_factory=dict)
    # stage -> rows / checkpoint bytes, for the pipeline workloads
    rows: dict[str, int] = field(default_factory=dict)
    ckpt_bytes: dict[str, int] = field(default_factory=dict)
    # output handed to ``check``
    output: object = None


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _cached_parquet(ctx: Ctx, path: str):
    df = ctx.spark.read.parquet(path).repartition(4 * ctx.nproc).cache()
    df.count()
    return df


# --------------------------------------------------------------------
# pipeline workloads


def run_pipeline(ctx: Ctx, docs, cfg, ckpt_dir: str, tag: str,
                 res: OpResult):
    """One ``DedupPipeline.run`` with every stage's
    ``CheckpointManager.materialize`` call wrapped: the stage's jobs
    carry the group ``<tag>:<stage>`` and its outside wall is recorded.
    The collision check that ``run`` starts right after
    ``documents_hashed`` inherits the group ``<tag>:id_check``."""
    from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

    pipe = DedupPipeline(ctx.spark, cfg, checkpoint_dir=ckpt_dir)
    materialize = pipe.ckpt.materialize

    def timed_materialize(stage, df_fn, *args, **kwargs):
        ctx.group(tag, stage)
        t0 = time.monotonic()
        try:
            return materialize(stage, df_fn, *args, **kwargs)
        finally:
            res.layer_wall[stage] = time.monotonic() - t0
            ctx.group(tag, "id_check" if stage == "documents_hashed"
                      else "pipeline")

    pipe.ckpt.materialize = timed_materialize
    ctx.group(tag, "pipeline")
    t0 = time.monotonic()
    out = pipe.run(docs)
    out.plan.count()
    res.wall_s = time.monotonic() - t0
    for m in pipe.ckpt.metrics:
        res.rows[m.stage] = m.rows
        res.ckpt_bytes[m.stage] = _du(os.path.join(ckpt_dir, m.stage))
    return out


def run_resume(ctx: Ctx, docs, cfg, ckpt_dir: str, tag: str,
               res: OpResult):
    """A second ``run`` over the finished checkpoint dir: every stage is
    read back, none recomputed."""
    from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

    ctx.group(tag, "resume")
    t0 = time.monotonic()
    pipe = DedupPipeline(ctx.spark, cfg, checkpoint_dir=ckpt_dir)
    out = pipe.run(docs)
    n_plan = out.plan.count()
    res.extra["resume_s"] = time.monotonic() - t0
    res.layer_wall["resume"] = res.extra["resume_s"]
    res.extra["resume_all_reused"] = all(m.reused for m in pipe.ckpt.metrics)
    res.extra["resume_plan_rows"] = n_plan
    return out


class PipelineWorkload:
    """Shared body of ``lsh_distinct`` and ``prefix_replica``: ``copies``
    copies of a seeded documents table through ``DedupPipeline`` with
    disk checkpoints, then a resume over the finished checkpoints."""

    name = ""
    base_docs = 0
    copies = 0
    distinct = True
    candidates = "lsh"

    def __init__(self) -> None:
        from imageduplicatefinder_spark.config import DedupConfig

        self.cfg = DedupConfig(candidates=self.candidates)

    def build(self, ctx: Ctx, out_dir: str):
        """Writes the input table and returns it (pandas)."""
        os.makedirs(out_dir, exist_ok=True)
        base, self.planted = inputs.make_documents(ctx.seed, self.base_docs)
        table = inputs.replicate(base, self.copies, self.distinct)
        self.input_path = os.path.join(out_dir, "documents.parquet")
        table.to_parquet(self.input_path, index=False)
        self.input_bytes = int(table["content"].str.len().sum())
        self.n_docs = len(table)
        return table

    def load(self, ctx: Ctx) -> None:
        self.docs = _cached_parquet(ctx, self.input_path)

    def warm(self, ctx: Ctx) -> None:
        # one full-size run and resume: the first run in a session pays
        # JIT, class loading and Python worker start whatever its size
        d = ctx.path("ckpt_warm")
        res = OpResult("warm")
        run_pipeline(ctx, self.docs, self.cfg, d, res.tag, res)
        run_resume(ctx, self.docs, self.cfg, d, res.tag, res)
        shutil.rmtree(d, ignore_errors=True)

    def op(self, ctx: Ctx, tag: str) -> OpResult:
        res = OpResult(tag, docs=self.n_docs)
        d = ctx.path(f"ckpt_{tag}")
        out = run_pipeline(ctx, self.docs, self.cfg, d, tag, res)
        res.extra["ckpt_bytes_per_input_byte"] = (
            sum(res.ckpt_bytes.values()) / self.input_bytes)
        run_resume(ctx, self.docs, self.cfg, d, tag, res)
        res.output = (out, d)
        return res

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        out, d = res.output
        try:
            plan = out.plan.select("cluster_id", "action", "repo",
                                   "path").toPandas()
            return self._check_plan(plan, res)
        finally:
            res.output = None
            shutil.rmtree(d, ignore_errors=True)

    def _check_common(self, plan, res: OpResult) -> list[str]:
        problems = []
        keeps = plan[plan["action"] == "KEEP"].groupby("cluster_id").size()
        n_clusters = plan["cluster_id"].nunique()
        if len(keeps) != n_clusters or (keeps != 1).any():
            problems.append("a cluster has no KEEP or more than one")
        if not res.extra.get("resume_all_reused"):
            problems.append("resume recomputed a stage")
        if res.extra.get("resume_plan_rows") != len(plan):
            problems.append("resumed plan row count differs")
        return problems

    def _check_plan(self, plan, res: OpResult) -> list[str]:
        raise NotImplementedError


class LshDistinct(PipelineWorkload):
    """Distinct copies (every token suffixed per copy) under LSH
    candidates: fingerprinting and banding do most of the work, exact
    collapse does nothing. Each run is followed by the streaming
    backlog, drained against the run's own signatures."""

    name = "lsh_distinct"
    base_docs = 1250
    copies = 4
    distinct = True
    candidates = "lsh"

    def __init__(self) -> None:
        super().__init__()
        # one shard keeps the op short enough for the run budget
        self.stream = StreamBacklog(self.cfg, shards=1)

    def build(self, ctx: Ctx, out_dir: str):
        table = super().build(ctx, out_dir)
        self.stream.build(out_dir, ctx.seed, table)
        return table

    def load(self, ctx: Ctx) -> None:
        super().load(ctx)
        self.stream.load(ctx)

    def warm(self, ctx: Ctx) -> None:
        # as the base warm-up, with the small warm-up backlog drained
        # against the run's signatures
        d = ctx.path("ckpt_warm")
        res = OpResult("warm")
        out = run_pipeline(ctx, self.docs, self.cfg, d, res.tag, res)
        self.stream.drain(ctx, out.signatures, self.stream.warm_dir, res)
        run_resume(ctx, self.docs, self.cfg, d, res.tag, res)
        shutil.rmtree(d, ignore_errors=True)

    def op(self, ctx: Ctx, tag: str) -> OpResult:
        res = super().op(ctx, tag)
        out, _ = res.output
        # the op's wall runs to the backlog's last batch committed
        res.wall_s += self.stream.drain(ctx, out.signatures,
                                        self.stream.shard_dir, res)
        res.docs += self.stream.n_new
        return res

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        return super().check(ctx, res) + self.stream.check(ctx, res)

    def _check_plan(self, plan, res: OpResult) -> list[str]:
        problems = self._check_common(plan, res)
        plan = plan.assign(copy=plan["repo"].str.rsplit("#", n=1).str[1])
        spans = plan.groupby("cluster_id")["copy"].nunique()
        if (spans > 1).any():
            problems.append(f"{int((spans > 1).sum())} clusters span copies")
        per_copy = plan.groupby("copy")["cluster_id"].nunique()
        if len(per_copy) != self.copies or per_copy.nunique() != 1:
            problems.append(f"cluster count differs by copy: "
                            f"{per_copy.to_dict()}")
        # every planted near-duplicate shares its original's cluster
        where = dict(zip(zip(plan["copy"], plan["path"]), plan["cluster_id"]))
        missed = sum(
            1 for c in range(self.copies) for a, b in self.planted
            if where.get((str(c), f"doc/{a}")) is None
            or where.get((str(c), f"doc/{a}")) != where.get((str(c), f"doc/{b}"))
        )
        if missed:
            problems.append(f"{missed} planted near-duplicate pairs not "
                            "clustered together")
        return problems


class PrefixReplica(PipelineWorkload):
    """Byte-identical copies under prefix candidates: sha256 collapse,
    the prefix join, relabelling exact-duplicate members and the plan
    over every row do the work; fingerprinting sees representatives
    only."""

    name = "prefix_replica"
    base_docs = 2500
    copies = 8
    distinct = False
    candidates = "prefix"

    def _check_plan(self, plan, res: OpResult) -> list[str]:
        problems = self._check_common(plan, res)
        if len(plan) != self.n_docs:
            problems.append(f"{len(plan)} plan rows, expected {self.n_docs}")
        per_path = plan.groupby("path").agg(
            n=("cluster_id", "size"), clusters=("cluster_id", "nunique"))
        if (per_path["n"] != self.copies).any() or (per_path["clusters"] != 1).any():
            problems.append("the copies of a document do not share one cluster")
        return problems


# --------------------------------------------------------------------
# catalog queries


class CatalogText:
    """Eight catalog queries over fixed seeded tables, one round per
    op; each query's rows are collected to the driver. The tables do
    not depend on ``--seed``: their expected row counts and value
    hashes are recorded in ``catalog_expected.json``."""

    name = "catalog_text"
    table_seed = 20240101
    n_docs = 1000
    n_orders = 15000

    def build(self, ctx: Ctx, out_dir: str) -> None:
        self.sf_dir = out_dir
        inputs.write_catalog(out_dir, self.table_seed, self.n_docs,
                             self.n_orders)

    def load(self, ctx: Ctx) -> None:
        with open(CATALOG_EXPECTED) as f:
            self.expected = json.load(f)

    def round(self, ctx: Ctx, res: OpResult) -> dict[str, dict]:
        """Run every query once, collecting its rows; records each
        query's wall on ``res`` and returns rows and value hash per
        query (hashing is not timed)."""
        from imageduplicatefinder_spark.queries import QUERIES
        from tools.check_oracles import norm_hash

        got = {}
        for q in QUERY_NAMES:
            ctx.group(res.tag, f"q.{q}")
            t0 = time.monotonic()
            pdf = QUERIES[q](ctx.spark, self.sf_dir).toPandas()
            res.layer_wall[f"q.{q}"] = time.monotonic() - t0
            got[q] = {"rows": len(pdf), "hash": norm_hash(pdf)}
        return got

    def warm(self, ctx: Ctx) -> None:
        # a query's first run pays codegen, class loading and Python
        # worker start whatever the table size: pay it for all eight at
        # once, one client thread per core, in about three quarters of
        # the time a sequential round takes
        from imageduplicatefinder_spark.queries import QUERIES

        def first_run(q: str) -> None:
            QUERIES[q](ctx.spark, self.sf_dir).toPandas()

        with ThreadPoolExecutor(ctx.nproc) as pool:
            list(pool.map(first_run, QUERY_NAMES))

    def op(self, ctx: Ctx, tag: str) -> OpResult:
        res = OpResult(tag, docs=self.n_docs)
        res.output = self.round(ctx, res)
        walls = [res.layer_wall[f"q.{q}"] for q in QUERY_NAMES]
        res.wall_s = sum(walls)
        res.extra["query_geomean_s"] = math.exp(
            sum(math.log(w) for w in walls) / len(walls))
        return res

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        return [f"{q}: {res.output[q]} != expected {self.expected[q]}"
                for q in QUERY_NAMES if res.output[q] != self.expected[q]]


# --------------------------------------------------------------------
# streaming


STREAM_SCHEMA = "repo string, path string, commit string, lang string, content string"


class StreamBacklog:
    """New documents staged as JSONL shards and drained, one shard per
    trigger (``maxFilesPerTrigger=1``), through ``incremental_dedup``
    against a history signature table: small batches against a large
    resident history. Half of each shard are planted near-duplicates of
    history documents; every one must come out as a verified edge."""

    per_shard = 250
    warm_per_shard = 50

    def __init__(self, cfg, shards: int) -> None:
        self.cfg = cfg
        self.shards = shards
        self.n_new = shards * self.per_shard

    def build(self, out_dir: str, seed: int, history) -> None:
        """Stage the shards; ``history`` is the pandas table whose
        signatures the drains run against."""
        self.shard_dir = os.path.join(out_dir, "shards")
        self.planted = inputs.write_stream_shards(
            self.shard_dir, seed, history, self.shards, self.per_shard)
        self.warm_dir = os.path.join(out_dir, "warm_shards")
        inputs.write_stream_shards(self.warm_dir, seed + 1, history, 1,
                                   self.warm_per_shard)

    def load(self, ctx: Ctx) -> None:
        """Doc ids of the planted pairs, for the check."""
        from imageduplicatefinder_spark.operators.signatures import add_doc_id

        keys = [k for repo, path, commit, new in self.planted
                for k in ((repo, path, commit), ("stream", new, "c0"))]
        ids = {(r.repo, r.path): r.doc_id for r in add_doc_id(
            ctx.spark.createDataFrame(
                keys, "repo string, path string, commit string")).collect()}
        self.expected_pairs = {
            frozenset((ids[(repo, path)], ids[("stream", new)]))
            for repo, path, _, new in self.planted
        }

    def drain(self, ctx: Ctx, history, src: str, res: OpResult) -> float:
        """Drain every shard under ``src`` against the ``history``
        signatures; returns the wall from query start to the last batch
        committed and records the micro-batches and the edges path on
        ``res``."""
        from imageduplicatefinder_spark.streaming.dedup_stream import (
            incremental_dedup,
        )

        tag = res.tag
        edges_out = ctx.path(f"edges_{tag}")
        ctx.group(tag, "stream")
        t0 = time.monotonic()
        stream = (ctx.spark.readStream.schema(STREAM_SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(src))
        q = incremental_dedup(stream, history, self.cfg, edges_out,
                              ctx.path(f"stream_ckpt_{tag}"))
        q.awaitTermination()
        wall = time.monotonic() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        res.layer_wall["stream"] = wall
        res.extra["stream_run_id"] = str(q.runId)
        res.extra["stream_edges"] = edges_out
        res.extra["batches"] = [
            {"batch_id": p["batchId"],
             "trigger_s": p["durationMs"]["triggerExecution"] / 1000,
             "add_batch_s": p["durationMs"].get("addBatch", 0) / 1000}
            for p in q.recentProgress if p["numInputRows"] > 0
        ]
        return wall

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        problems = []
        if len(res.extra["batches"]) != self.shards:
            problems.append(f"{len(res.extra['batches'])} micro-batches, "
                            f"expected {self.shards}")
        got = {frozenset((r.src, r.dst)) for r in ctx.spark.read.parquet(
            res.extra["stream_edges"]).select("src", "dst").collect()}
        missed = len(self.expected_pairs - got)
        if missed:
            problems.append(f"{missed} of {len(self.expected_pairs)} planted "
                            "near-duplicate pairs missing from the edges")
        return problems


class IncrementalStream:
    """The streaming backlog alone, against the signature table of the
    ``lsh_distinct`` corpus, built and cached in set-up."""

    name = "incremental_stream"

    def __init__(self) -> None:
        from imageduplicatefinder_spark.config import DedupConfig

        self.cfg = DedupConfig()
        self.stream = StreamBacklog(self.cfg, shards=2)

    def build(self, ctx: Ctx, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        base, _ = inputs.make_documents(ctx.seed, LshDistinct.base_docs)
        history = inputs.replicate(base, LshDistinct.copies, True)
        self.history_path = os.path.join(out_dir, "history.parquet")
        history.to_parquet(self.history_path, index=False)
        self.stream.build(out_dir, ctx.seed, history)

    def load(self, ctx: Ctx) -> None:
        from imageduplicatefinder_spark.operators.signatures import (
            compute_signatures,
        )

        sig_path = ctx.path("history_signatures")
        ctx.group("load", "history")
        compute_signatures(ctx.spark.read.parquet(self.history_path),
                           self.cfg).drop("minhash").write.parquet(sig_path)
        self.history_sigs = _cached_parquet(ctx, sig_path)
        self.stream.load(ctx)

    def warm(self, ctx: Ctx) -> None:
        self.stream.drain(ctx, self.history_sigs, self.stream.warm_dir,
                          OpResult("warm"))

    def op(self, ctx: Ctx, tag: str) -> OpResult:
        res = OpResult(tag, docs=self.stream.n_new)
        res.wall_s = self.stream.drain(ctx, self.history_sigs,
                                       self.stream.shard_dir, res)
        return res

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        return self.stream.check(ctx, res)


WORKLOADS = {
    w.name: w for w in (LshDistinct, PrefixReplica, CatalogText,
                        IncrementalStream)
}
