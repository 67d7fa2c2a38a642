"""Per-query isolation bench (guide §1.4): times individual catalog
queries with the SAME methodology as the frozen bench.py (count() on
local[$SPARK_GRAFT_CPUS] — default: the CPUs this process may run on —
shuffle partitions = core count) but lets the optimizer run one query
at a time, with min-of-N, job labels, and an optional noop-sink mode
that forces EVERY column (count() lets Catalyst prune columns the same
way the graded bench does, so count is the default here for
comparability).

Usage:
    python bench_extra.py [--sf DIR] [--runs N] [--sink count|noop]
                          [--pipeline] [query ...]

Prints one JSON line: {"sf": ..., "sink": ..., "queries": {name: [s, ...]}}.
Not part of the graded bench contract — bench.py is the frozen artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEAVY = [
    "dedup_pipeline",  # pseudo-entry: the bench's flagship workload
    "tfidf_cosine_dense_pairs",
    "simhash_radius_clusters",
    "simhash_hamming_pairs",
    "winnow_match_pairs",
    "decontaminate_vs_eval",
    "dedup_funnel_stats",
    "embedding_near_dup_pairs",
    "ngram_jaccard_pairs",
    "edit_distance_pairs",
    "ann_cosine_topk",
    "near_dup_clusters_exact",
    "ngram_jaccard_prefix_pairs",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sink", choices=("count", "noop"), default="count")
    ap.add_argument("--candidates", default="lsh",
                    help="pipeline candidate scheme (lsh|prefix)")
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    names = args.queries or HEAVY

    from imageduplicatefinder_spark.queries import QUERIES
    from imageduplicatefinder_spark.session import get_spark

    spark = get_spark(app_name="bench_extra")
    from pyspark.sql import functions as F

    from imageduplicatefinder_spark.sources.tables import load_table

    # warm up exactly like bench.py
    load_table(spark, args.sf, "documents").agg(F.max(F.md5("text"))).collect()

    def run_pipeline() -> None:
        import bench as benchmod
        from imageduplicatefinder_spark.config import DedupConfig
        from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

        docs = benchmod.build_replicated_documents(spark, args.sf, 8).cache()
        docs.count()
        try:
            DedupPipeline(
                spark, DedupConfig(candidates=args.candidates),
                checkpoint_dir=tempfile.mkdtemp(prefix="bx_ckpt_"),
                durability="disk",
            ).run(docs).plan.count()
        finally:
            docs.unpersist()

    out: dict[str, list[float]] = {}
    for name in names:
        samples = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            if name == "dedup_pipeline":
                run_pipeline()
            elif args.sink == "count":
                QUERIES[name](spark, args.sf).count()
            else:
                (QUERIES[name](spark, args.sf)
                 .write.format("noop").mode("overwrite").save())
            samples.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = samples
        print(f"# {name}: {samples}", file=sys.stderr, flush=True)
    print(json.dumps({"sf": args.sf, "sink": args.sink,
                      "cpus": spark.sparkContext.defaultParallelism,
                      "queries": out}))


if __name__ == "__main__":
    main()
