"""Candidate-scheme comparison bench: the full dedup pipeline at
replica x16 through each of the two candidate generators
(DedupConfig.candidates = lsh | prefix) on the same input.

lsh     MinHash banding — probabilistic (recall set by the band curve),
        cheapest join, the at-scale default below the prefix scheme's
        threshold sweet spot.
prefix  AllPairs/PPJoin prefix filtering — EXACT for the verify rule,
        deterministic, no recall knob; the high-threshold default.

Usage: python tools/bench_candidate_schemes.py [replicate] [cpus]
Prints one JSON line per scheme: wall seconds, docs/sec, verified-edge
count (prefix recall is pinned by tests/test_pipeline.py; lsh may
differ by its recall curve).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_replicated_documents  # noqa: E402
from imageduplicatefinder_spark.config import DedupConfig  # noqa: E402
from imageduplicatefinder_spark.plans.pipeline import DedupPipeline  # noqa: E402
from imageduplicatefinder_spark.session import get_spark  # noqa: E402


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    master = f"local[{int(sys.argv[2])}]" if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench_candidate_schemes", master=master)
    docs = build_replicated_documents(spark, sf_dir, replicate,
                                      distinct=True).cache()
    n_docs = docs.count()
    # warm Python workers / JIT off the clock
    warm = docs.limit(1000).cache()
    warm.count()
    DedupPipeline(spark, DedupConfig(),
                  checkpoint_dir=tempfile.mkdtemp()).run(warm).plan.count()
    warm.unpersist()

    for scheme in ("lsh", "prefix"):
        t0 = time.monotonic()
        res = DedupPipeline(
            spark, DedupConfig(candidates=scheme),
            checkpoint_dir=tempfile.mkdtemp(prefix=f"bench_{scheme}_"),
        ).run(docs)
        res.plan.count()
        wall = time.monotonic() - t0
        n_edges = res.edges.count()
        print(json.dumps({
            "scheme": scheme,
            "wall_sec": round(wall, 2),
            "docs": n_docs,
            "docs_per_sec": round(n_docs / wall, 1),
            "verified_edges": n_edges,
        }), flush=True)


if __name__ == "__main__":
    main()
