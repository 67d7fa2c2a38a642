"""Cluster entry point: run the dedup pipeline via spark-submit.

This is the multi-executor launch path from the north_rule
("launched via spark-submit --py-files on multi-executor clusters at
N and 4N executors"). In this sandbox there is no real cluster — the
same script runs under local[N] (the N-vs-4N runs are in
bench_artifacts/scaling_*.json) — but the packaging and launch shape
is the real one:

    # package the engine (pure Python, no build step)
    cd /root/repo && zip -qr /tmp/idf_spark.zip imageduplicatefinder_spark

    # N executors
    spark-submit \
      --master spark://<master>:7077 \
      --num-executors 64 --executor-cores 8 --executor-memory 16g \
      --conf spark.sql.shuffle.partitions=512 \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.execution.arrow.pyspark.enabled=true \
      --py-files /tmp/idf_spark.zip \
      tools/submit_pipeline.py \
      --input <warehouse>/documents --checkpoint <warehouse>/ckpt

Executor sizing guidance for the 100 TB table: shuffle partitions
~2-4x total cores; spark.sql.files.maxPartitionBytes at the default
128 MB gives ~800k input splits for 100 TB, which amortizes fine; the
signatures stage is CPU-bound (budget ~0.7-1k docs/s/core for
~200-token docs), the band/candidate stages are shuffle-bound with the
hot-band cap bounding any single reducer.
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser(description="Run the near-dup pipeline")
    p.add_argument("--input", required=True,
                   help="documents table path (parquet/iceberg dir)")
    p.add_argument("--checkpoint", required=True, help="checkpoint root dir")
    p.add_argument("--langs", default=None,
                   help="comma-separated lang filter (pushdown predicate)")
    p.add_argument("--shingle-k", type=int, default=3)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

    spark = SparkSession.builder.appName("idf_dedup_pipeline").getOrCreate()
    cfg = DedupConfig(shingle_k=args.shingle_k,
                      jaccard_threshold=args.jaccard_threshold)
    docs = spark.read.parquet(args.input)
    pipe = DedupPipeline(spark, cfg, checkpoint_dir=args.checkpoint)
    res = pipe.run(docs, langs=args.langs.split(",") if args.langs else None)
    n_plan = res.plan.count()
    n_clusters = res.plan.select("cluster_id").distinct().count()
    print(f"plan rows={n_plan} clusters={n_clusters} "
          f"checkpoints under {args.checkpoint}/<stage>/{cfg.config_hash()}")
    for m in pipe.ckpt.metrics:
        print(f"stage={m.stage} rows={m.rows} partitions={m.n_partitions} "
              f"wall_s={m.wall_s:.1f} reused={m.reused}")


if __name__ == "__main__":
    main()
