"""Planted-skew stress bench (round-4 verdict Next #5): show the skew
machinery WINNING on a hostile corpus, not just passing tests.

Corpus: the sf documents table mapped to the input_hint shape, with a
shared 120-token boilerplate block appended to 30% of docs (license
header / generated-preamble analog). Between two boilerplated docs the
shared block alone puts Jaccard ~0.35-0.4, so with 64x2 MinHash bands
nearly every such pair collides in some band: the uncapped LSH band
table holds a few mega-bands of ~0.3n members each, and the raw band
self-join degenerates to O((0.3n)^2) rows PER BAND. The salted cap
(``max_band_size``) bounds every band, with the dropped-candidate
accounting preserved in band_stats.

For each scheme the tool reports wall, the ANALYTIC raw self-join size
(sum of C(band_size,2) from the band-size aggregate — the shuffle rows
the join would emit), and the realized distinct candidate count:

- lsh_capped    : bands capped at cfg.max_band_size (the default path)
- lsh_uncapped  : cap lifted (max_band_size=10^9) — the degenerate plan
- prefix        : AllPairs/PPJoin — no cap knob; boilerplate shingles
                  have huge document frequency, so the DF-ascending
                  prefix ordering structurally excludes them from
                  prefixes (skew resistance by construction)
- exact         : exhaustive inverted index — the uncapped baseline a
                  naive implementation ships; quadratic on the
                  boilerplate shingles

Usage: python tools/bench_skew.py [sf_dir] [--cpus=N] [--frac=F]
                                  [--replicate=R] [--skip-exact]
Prints one JSON line per scheme, and exits non-zero if the capped leg
caps no band (the corpus is then too small to show anything). The
smallest run that engages the cap is sf0.01 with ``--replicate=3``
(24 capped bands); sf0.01 alone caps none. ``--replicate`` replays
the corpus through bench.py's distinct-content replicator BEFORE
planting the boilerplate (the block stays shared across copies),
scaling the hostile band to R x 0.3 x n docs — the regime where the
uncapped self-join degenerates for real. ``--skip-exact`` omits the exhaustive baseline
(quadratic in the boilerplate count; pointless to wait on at high R).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOILER_TOKENS = 120


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    master, frac, replicate = None, 0.3, 1
    skip_exact = "--skip-exact" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--cpus"):
            master = f"local[{int(a.split('=', 1)[1])}]"
        if a.startswith("--frac"):
            frac = float(a.split("=", 1)[1])
        if a.startswith("--replicate"):
            replicate = int(a.split("=", 1)[1])
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from pyspark.sql import functions as F

    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.operators.lsh import (
        BAND_KEY,
        band_table,
        hot_keys,
        key_pairs,
        kept_given_hot,
    )
    from imageduplicatefinder_spark.operators.prefix_join import (
        exact_candidates,
        prefix_candidates,
    )
    from imageduplicatefinder_spark.operators.signatures import (
        compute_signatures,
    )
    from imageduplicatefinder_spark.queries import _docs_as_input_hint
    from imageduplicatefinder_spark.session import get_spark

    spark = get_spark(app_name="bench_skew", master=master)

    boiler = " ".join(f"boilerplate_token_{i}" for i in range(BOILER_TOKENS))
    if replicate > 1:
        from bench import build_replicated_documents

        docs = build_replicated_documents(spark, sf_dir, replicate)
    else:
        docs = _docs_as_input_hint(spark, sf_dir)
    # deterministic 30%: hash of the natural key, not doc order
    skewed = docs.withColumn(
        "content",
        F.when(
            F.pmod(F.xxhash64("repo", "path"), F.lit(1000))
            < F.lit(int(frac * 1000)),
            F.concat_ws(" ", F.col("content"), F.lit(boiler)),
        ).otherwise(F.col("content")),
    )
    cfg = DedupConfig()
    sigs = compute_signatures(skewed, cfg).cache()
    n_docs = sigs.count()
    n_boiler = skewed.filter(
        F.col("content").contains("boilerplate_token_0")
    ).count()
    print(json.dumps({"corpus": sf_dir, "docs": n_docs,
                      "boilerplated": n_boiler, "frac": frac}), flush=True)

    def raw_join_rows(bands_df) -> int:
        # sum C(size, 2) over bands == rows the band self-join emits
        row = (
            bands_df.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("s"))
            .agg(F.sum(F.col("s") * (F.col("s") - 1) / 2).alias("raw"))
            .collect()[0]
        )
        return int(row["raw"] or 0)

    def run(name, fn) -> None:
        t0 = time.monotonic()
        out = fn()
        wall = time.monotonic() - t0
        out["scheme"] = name
        out["wall_sec"] = round(wall, 2)
        print(json.dumps(out), flush=True)
        return out

    do_verify = "--verify" in sys.argv

    def lsh(capped: bool):
        c = cfg if capped else DedupConfig(max_band_size=10**9)
        bands = band_table(sigs, c).localCheckpoint(eager=False)
        cap = c.max_band_size
        hot = hot_keys(bands, BAND_KEY, cap, "band_size")
        kept = kept_given_hot(bands, hot, BAND_KEY, "doc_id", cap, "band_size")
        raw = raw_join_rows(kept)
        pairs = key_pairs(kept, BAND_KEY, "doc_id")
        out = {"raw_join_rows": raw,
               "distinct_candidates": pairs.count(),
               "capped_bands": hot.count()}
        if do_verify:
            # what the cap actually costs: boilerplate-dominated SHORT
            # docs can pass the containment>=0.8 verify rule through the
            # shared block alone, so capped bands CAN drop verified
            # edges — but dedup output is CLUSTERS, and a capped mega
            # family keeps far more edges than a spanning structure
            # needs. Report both: edge recall AND cluster-assignment
            # parity (the pipeline's real output contract).
            from imageduplicatefinder_spark.operators.verify import (
                verify_pairs,
            )

            edges = (
                verify_pairs(pairs, sigs, cfg)
                .filter(F.col("verified"))
                .select("src", "dst")
                .localCheckpoint()
            )
            out["verified_edges"] = edges.count()
            verified_edges[capped] = edges
        return out

    verified_edges: dict[bool, object] = {}
    if not run("lsh_capped", lambda: lsh(True))["capped_bands"]:
        sys.exit(f"bench_skew: no band exceeds max_band_size="
                 f"{cfg.max_band_size}, so the cap is not exercised; "
                 "use a larger corpus (sf0.01 needs --replicate=3)")
    run("lsh_uncapped", lambda: lsh(False))
    if do_verify and len(verified_edges) == 2:
        from imageduplicatefinder_spark.operators.components import (
            connected_components,
        )

        lab = {
            k: connected_components(v).withColumnsRenamed(
                {"cluster_id": f"c_{k}"}
            )
            for k, v in verified_edges.items()
        }
        joined = lab[True].join(lab[False], on="doc_id", how="full")
        n_nodes = joined.count()
        # a node missing from one side stayed a singleton there
        n_diff = joined.filter(
            F.coalesce(F.col("c_True"), F.col("doc_id"))
            != F.coalesce(F.col("c_False"), F.col("doc_id"))
        ).count()
        print(json.dumps({
            "scheme": "cluster_parity_capped_vs_uncapped",
            "nodes": n_nodes,
            "differing_assignments": n_diff,
        }), flush=True)
    run("prefix", lambda: {
        "distinct_candidates": prefix_candidates(sigs, cfg).count()})
    if not skip_exact:
        run("exact", lambda: {
            "distinct_candidates": exact_candidates(sigs).count()})


if __name__ == "__main__":
    main()
