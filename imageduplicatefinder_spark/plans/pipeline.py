"""End-to-end dedup pipeline: the Spark analog of the reference's
3-stage chained job hash -> cluster -> plan
(ref: src/main/java/app/WebServer.java:84-128, app/Commands.java wrappers
:393-431), with stage checkpoints replacing the CSV hand-offs.

    documents
      -> documents_hashed (JVM sha256, narrow; ckpt)      [ref: idf hash]
      -> exact-dup collapse: fingerprint ONLY distinct content —
         the reference hashes every file (Commands.java:72-84); at
         10^12-file scale exact copies dominate, so the expensive
         shingle/MinHash UDF runs on representatives only
      -> signatures (fingerprint UDF on reps; ckpt)
      -> LSH bands (JVM band hashing, salted hot-band cap; ckpt)
      -> candidates (band equi-join; ckpt)
      -> verified edges (Jaccard/containment/Hamming; ckpt)
      -> components (driver pass, else star contraction) [ref: idf cluster]
      -> clusters (>=2 members; ckpt)
      -> plan (min_by keeper, mega-cluster safe; ckpt)    [ref: idf plan]
"""

from __future__ import annotations

import tempfile
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.operators.components import connected_components
from imageduplicatefinder_spark.operators.exact import rep_ids
from imageduplicatefinder_spark.operators.lsh import (
    BAND_KEY,
    band_table,
    hot_keys,
    key_pairs,
    kept_given_hot,
)
from imageduplicatefinder_spark.operators.plan import clusters_table, keeper_plan
from imageduplicatefinder_spark.operators.prefix_join import prefix_candidates
from imageduplicatefinder_spark.operators.signatures import (
    add_doc_id,
    compute_signatures,
    hash_documents,
)
from imageduplicatefinder_spark.operators.verify import verify_pairs
from imageduplicatefinder_spark.plans.checkpoint import (
    CheckpointManager,
    input_signature,
)


@dataclass
class PipelineResult:
    documents_hashed: DataFrame  # per-row: doc_id, identity, sha256, size
    signatures: DataFrame        # fingerprints of distinct-content reps
    edges: DataFrame             # verified near-dup edges (src, dst, evidence)
    components: DataFrame        # (doc_id, cluster_id) for ALL rows
    clusters: DataFrame          # >=2-member clusters with identity columns
    plan: DataFrame              # KEEP/DELETE decisions
    ckpt: CheckpointManager


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig | None = None,
        checkpoint_dir: str | None = None,
        durability: str = "disk",
    ) -> None:
        """``durability="memory"`` materializes stages via
        localCheckpoint instead of parquet — no resume, no disk floor;
        see plans/checkpoint.py. The default stays the durable,
        resumable disk mode the north_rule requires."""
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="idf_ckpt_")
        self.ckpt = CheckpointManager(spark, self.checkpoint_dir,
                                      self.cfg.config_hash(),
                                      durability=durability)

    def run(self, documents: DataFrame, langs: list[str] | None = None) -> PipelineResult:
        cfg = self.cfg
        if cfg.quality_gate:
            # pre-dedup file filter (functions/quality.py): row-local
            # predicate applied BEFORE hashing, so minified/binary-ish/
            # autogenerated files never reach the fingerprint UDF; it
            # rides the scan (pushdown-able), adding no job or shuffle
            from imageduplicatefinder_spark.functions.quality import (
                quality_keep,
            )

            documents = documents.filter(quality_keep(F.col("content")))
        # checkpoint reuse is keyed by (stage, config_hash, input identity):
        # same config over a different corpus must recompute, not replay
        self.ckpt.input_sig = input_signature(documents)

        docs_tbl = self.ckpt.materialize(
            "documents_hashed", lambda: hash_documents(documents, langs=langs)
        )

        # guard the 64-bit doc_id identity: xxhash64(repo,path,commit) is
        # an optimization-only shuffle key; the natural key rides along in
        # every table, but a silent collision would merge unrelated docs
        # into one CC node / cluster id. Birthday bound ~n^2/2^65 (~3e4
        # expected at 10^12 rows) — so the pipeline CHECKS instead of
        # assuming: one agg over the already-materialized hash table.
        # Compared against the DISTINCT natural-key count, not count(*):
        # the same file listed twice is a legitimate exact duplicate the
        # sha256 pre-pass absorbs, not a hash collision.
        # distinct keys counted over a STRUCT (never null even when a
        # key column is null — count_distinct over bare columns skips
        # null-containing rows and would false-alarm). Per doc_id, so
        # the plan has ONE distinct aggregate: two count_distincts in one
        # agg get an Expand whose group order follows expression-id
        # hashes, so a repeated run could generate (and compile) a
        # differently ordered copy of the same code.
        #
        # The agg is submitted CONCURRENTLY with the downstream stages
        # (guide §2.6, overlap independent jobs): no stage reads its
        # result, so its ~0.7 s (sf0.1) of serial wall hides under the
        # signatures build, and its tasks back-fill executors the main
        # chain leaves idle. ``run`` still raises before returning —
        # callers never see results built on a collided id space, and a
        # resumed run re-checks the same way it always did.
        def _check_id_collisions() -> None:
            extra = (
                docs_tbl.groupBy("doc_id")
                .agg(F.count_distinct(
                    F.struct("repo", "path", "commit")).alias("n_keys"))
                .agg(F.sum(F.col("n_keys") - 1))
                .collect()[0][0]
            )
            if extra:  # None on an empty table
                raise RuntimeError(
                    f"doc_id collision: {extra} "
                    "duplicate 64-bit ids for distinct (repo, path, "
                    "commit) keys — rerun with a salted/widened id scheme"
                )

        idc_pool = ThreadPoolExecutor(max_workers=1)
        # with pinned-thread mode off the wrapper factory hands back the
        # session itself, and the plain target is the right one
        wrap = inheritable_thread_target(self.spark)
        idc_future = idc_pool.submit(
            _check_id_collisions if wrap is self.spark
            else wrap(_check_id_collisions)
        )
        try:
            result = self._run_stages(documents, langs, docs_tbl)
        except BaseException as exc:
            # a downstream failure must not hide a tripped id guard:
            # the collision is often its root cause
            collision = idc_future.exception()
            if collision is not None:
                exc.add_note(f"concurrent doc_id check also failed: "
                             f"{collision!r}")
            raise
        finally:
            idc_pool.shutdown()
        # join the concurrent id-collision check: raises here (before
        # any result is handed to the caller) if the guard tripped
        idc_future.result()
        return result

    def _run_stages(
        self,
        documents: DataFrame,
        langs: list[str] | None,
        docs_tbl: DataFrame,
    ) -> PipelineResult:
        """Every stage after ``documents_hashed``, run while the
        id-collision check is in flight."""
        cfg = self.cfg
        # exact-dup classes (distance-0, ref: index/BKTreeIndex.java:27)
        # collapse to min-doc_id reps; members rejoin the clustering
        # AFTER connected components via exact_groups (build_components)
        # instead of riding the CC rounds as star edges
        reps_tbl = rep_ids(docs_tbl)

        # fingerprint ONLY distinct-content representatives
        def build_signatures() -> DataFrame:
            reps = reps_tbl.select(F.col("rep_id").alias("doc_id"))
            rep_docs = add_doc_id(
                documents if not langs
                else documents.filter(F.col("lang").isin(langs))
            ).join(reps, on="doc_id")
            # widen=False: rep_docs just crossed the rep-filter join's
            # exchange, so the fingerprint stage is already distributed
            return compute_signatures(
                rep_docs.select("repo", "path", "commit", "lang", "content"),
                cfg, widen=False,
            )

        signatures = self.ckpt.materialize("signatures", build_signatures)

        if cfg.candidates == "lsh":
            # capped-band drop accounting is DURABLE: the hot-band stats
            # ride as their own (tiny) checkpoint so an operator
            # investigating missed duplicates can see which bands were
            # down-sampled. The stats materialize FIRST: the checkpointed
            # hot set is exactly the join input the kept-bands build
            # needs, so the band table is aggregated once, not once per
            # consumer (the old bands-then-stats order re-ran the 5M-row
            # groupBy for ~9% of pipeline wall, BENCH.md round 4)
            banded = band_table(signatures, cfg).localCheckpoint(eager=False)
            cap = cfg.max_band_size
            hot = self.ckpt.materialize(
                "band_stats",
                lambda: hot_keys(banded, BAND_KEY, cap, "band_size"),
            )
            bands = self.ckpt.materialize(
                "bands",
                lambda: kept_given_hot(banded, hot, BAND_KEY, "doc_id", cap,
                                       "band_size"),
            )
            cands = self.ckpt.materialize(
                "candidates", lambda: key_pairs(bands, BAND_KEY, "doc_id")
            )
        else:
            # "prefix" — AllPairs/PPJoin prefix filtering: EXACT for the
            # verify rule (no recall knob), deterministic — the
            # high-threshold default; no band stage, no drop accounting
            # to record
            cands = self.ckpt.materialize(
                "candidates", lambda: prefix_candidates(signatures, cfg)
            )
        verified = self.ckpt.materialize(
            "edges",
            lambda: verify_pairs(cands, signatures, cfg,
                                 only_verified=True),
        )

        # CC runs eagerly (per-round jobs), so it must live INSIDE the
        # materialize lambda: a resumed run reads the checkpoint back and
        # never re-iterates (previously the rounds re-ran and a
        # non-converging graph could abort a fully-checkpointed resume)
        def build_components() -> DataFrame:
            # iterate ONLY over the verified rep-rep graph (guide §8:
            # decide with small rows): exact-dup members don't need to
            # ride every CC round — each sha class's rep IS
            # the class minimum (operators/exact.py rep_ids), so the
            # component minimum over reps equals the minimum over all
            # member docs, and one post-CC join relabels members.
            # Measured at sf1.0 x8: the old rep+member-star edge set
            # shuffled 352k edges per round for a 2.4k-edge problem.
            rep_edges = verified.select("src", "dst")
            comps = connected_components(rep_edges)
            rep_labels = comps.select(
                F.col("doc_id").alias("rep_id"),
                F.col("cluster_id").alias("_lab"),
            )
            from imageduplicatefinder_spark.operators.exact import (
                exact_groups,
            )

            # every doc maps to its sha-class rep; docs whose rep never
            # joined a verified edge stay in their exact-dup class,
            # labeled by the rep (= class min) — singleton classes label
            # themselves (ref singleton semantics, app/Commands.java:
            # 149-151 drops them at the clusters stage)
            return (
                exact_groups(docs_tbl)
                .join(rep_labels, on="rep_id", how="left")
                .select(
                    "doc_id",
                    F.coalesce("_lab", F.col("rep_id")).alias("cluster_id"),
                )
            )

        comps_full = self.ckpt.materialize("components", build_components)
        clusters = self.ckpt.materialize(
            "clusters", lambda: clusters_table(comps_full, docs_tbl)
        )
        plan = self.ckpt.materialize("plan", lambda: keeper_plan(clusters))
        self.ckpt.flush_metrics()
        return PipelineResult(docs_tbl, signatures, verified, comps_full,
                              clusters, plan, self.ckpt)
