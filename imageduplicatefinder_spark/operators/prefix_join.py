"""Prefix-filtering candidate generation (AllPairs/PPJoin family,
Bayardo/Ma/Srikant WWW'07) — the one home of the prefix rule.

Order tokens globally by (document frequency asc, token) and keep only
each doc's RAREST ``n - ceil(t*n) + 1`` tokens — any pair with
Jaccard >= t provably shares a prefix token (if none of A's prefix
tokens were in B, the intersection is at most ceil(t*n)-1 < t*n <=
t*union). Exact: no recall knob, unlike LSH banding — which makes it
the right default for high-threshold configs, while LSH remains the
choice below the prefix scheme's selectivity sweet spot. The prefix
length is only a pruning bound: a longer prefix adds candidates but
never changes what exact verification keeps.

Callers:

- the pipeline's ``candidates="prefix"`` scheme (``prefix_candidates``
  over the signature table's shingle sets);
- the catalog queries ``q_ngram_jaccard_prefix_pairs`` (J >= 0.8 over
  word-3-gram shingles) and the fallback of
  ``q_char_ngram_jaccard_pairs`` (J >= 0.7 over char 5-grams), which
  build ``doc_tokens`` -> ``jaccard_prefix_pairs`` and then verify
  each candidate with exact integer intersection counts.

The pipeline's verify rule is ``jaccard >= t_j OR containment >= t_c``
(operators/verify.py), so exact recall needs TWO legs:

- Jaccard leg: ``jaccard_prefix_pairs`` at t_j (prefix-vs-prefix
  self-join with the PPJoin length filter inside the join);
- containment leg: each doc's containment prefix (rarest
  ``n - ceil(t_c*n) + 1`` shingles) probed against the FULL inverted
  index — for a pair with |A∩B| >= t_c*min, the smaller side's
  containment prefix must hit ANY shingle of the larger (pigeonhole on
  the small side alone; the large side's probe only adds candidates).
  No length filter applies (containment is unbounded by size ratio).

Skew shape: prefix selection inverts the hot-key problem — a doc's
prefix is its RAREST shingles, so boilerplate shingles (the mega-keys
of a naive shingle self-join) only enter a prefix when a doc has
almost no rare content; residual skew is AQE territory. Float
thresholds use an epsilon-guarded ceil that can only LENGTHEN the
prefix (extra candidates, never lost recall).

MEASURED LIMIT of that skew resistance (bench_artifacts/
skew_stress_r5.json): it is threshold-dependent. When a shared
boilerplate block exceeds ``1 - t`` of a doc's shingle set, the
``n - ceil(t*n) + 1`` prefix necessarily reaches into the boilerplate
and every boilerplated doc pair becomes a candidate — the scheme then
degenerates to the exhaustive join (98.3M candidates / 105 s on a 40k
doc corpus whose block is ~55% of a doc at t=0.5, vs the capped LSH
scheme's bounded 4.5M / 9.4 s). This is inherent to exactness: the
pairs ARE potential verify hits (containment through the block). For
boilerplate-heavy corpora, use the capped LSH scheme (drop-accounted)
or strip known boilerplate upstream (chunk-level dedup) before the
prefix join.

ref: the reference's candidate stage is the BK-tree radius walk
(src/main/java/index/BKTreeIndex.java:34-50); this is the set-overlap
analog for the Jaccard/containment verify rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.operators.lsh import key_pairs


def _prefix_len(n: Column, threshold: float) -> Column:
    """``n - ceil(threshold*n) + 1`` with an epsilon guard: subtracting
    1e-9 before ceil makes the computed ceil <= the true ceil, so the
    prefix can only come out LONGER than required (safe direction)."""
    return (
        n - F.ceil(F.lit(float(threshold)) * n - F.lit(1e-9)) + F.lit(1)
    ).cast("int")


def doc_tokens(tokens: DataFrame) -> DataFrame:
    """(doc_id, toks) from (doc_id, tok) rows that are distinct per doc:
    each doc's tokens as ``struct(df, tok)``, sorted by global (document
    frequency asc, tok) — rarest first, so any threshold's prefix is a
    head slice of the same array."""
    df_tab = tokens.groupBy("tok").agg(F.count("*").alias("df"))
    return tokens.join(df_tab, on="tok").groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("toks")
    )


def _slice_prefixes(per_doc: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, tok, n) keeping each doc's rarest
    ``n - ceil(threshold*n) + 1`` tokens from a ``doc_tokens`` table.
    threshold=0.0 keeps everything. The doc's set size ``n`` rides on
    every prefix row so join-time filters (length ratio, probe-side
    asymmetry) run map-side on the join output instead of as two extra
    post-distinct joins."""
    p = _prefix_len(F.size("toks"), threshold)
    return per_doc.select(
        "doc_id",
        F.explode(
            F.transform(F.slice("toks", F.lit(1), p), lambda s: s["tok"])
        ).alias("tok"),
        F.size("toks").alias("n"),
    )


def jaccard_prefix_pairs(toks: DataFrame, threshold: float) -> DataFrame:
    """(src, dst, n_src, n_dst), src < dst, from a ``doc_tokens`` table:
    a superset of every pair with Jaccard >= ``threshold``, with both
    set sizes. Prefix vs prefix self-join (both members of a J >= t pair
    carry a shared token in their prefixes — Bayardo Lemma 1 applied
    symmetrically) with the PPJoin length filter
    min(|A|,|B|) >= t * max(|A|,|B|) applied inside the join: a J >= t
    pair satisfies it, so filtering the raw join rows can only drop
    non-qualifying pairs. Not distinct: a pair sharing several prefix
    tokens appears once per shared token."""
    jp = _slice_prefixes(toks, threshold).localCheckpoint(eager=False)
    return (
        jp.alias("a")
        .join(jp.alias("b"), on="tok")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.n", "b.n")
                >= F.lit(float(threshold)) * F.greatest("a.n", "b.n")
                - F.lit(1e-9)
            )
        )
        .select(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.col("a.n").alias("n_src"),
            F.col("b.n").alias("n_dst"),
        )
    )


def prefix_candidates(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(src, dst) candidate pairs, src < dst — an EXACT superset of all
    pairs satisfying the verify rule ``jaccard >= cfg.jaccard_threshold
    OR containment >= cfg.containment_threshold`` over the signature
    table's shingle sets (see module docstring for the two-leg
    guarantee). Exact duplicates are assumed collapsed upstream (the
    pipeline's sha256 pre-pass), mirroring the LSH path.
    """
    tokens = signatures.filter(F.col("shingles").isNotNull()).select(
        "doc_id", F.explode("shingles").alias("tok")
    )
    # every downstream consumer (both legs' prefixes AND the full sized
    # index) derives from the sorted per-doc token table, so that is
    # the one materialization; set sizes ride the prefix/index rows
    # themselves, so both legs' pruning filters run map-side on the
    # join output BEFORE the distinct
    toks = doc_tokens(tokens).localCheckpoint(eager=False)

    jac = jaccard_prefix_pairs(toks, cfg.jaccard_threshold).select("src", "dst")

    # --- containment leg: containment prefix vs FULL inverted index,
    # SMALL side probing only — for a pair with |A∩B| >= t_c*min the
    # pigeonhole applies to the smaller side's prefix alone (module
    # docstring: "the large side's probe only adds candidates"), so
    # probe rows with a strictly larger prefix side are dropped
    # map-side (halves the leg's fan-out; ties keep both orders) ------
    cp = _slice_prefixes(toks, cfg.containment_threshold)
    # the full index WITH sizes is just the per-doc token table
    # re-exploded (threshold 0 keeps every token) — no sizes join
    idx_sized = _slice_prefixes(toks, 0.0).withColumnRenamed("n", "n_x")
    cont = (
        cp.alias("p")
        .join(idx_sized.alias("x"), on="tok")
        .filter(
            (F.col("p.doc_id") != F.col("x.doc_id"))
            & (F.col("p.n") <= F.col("x.n_x"))
        )
        .select(
            F.least("p.doc_id", "x.doc_id").alias("src"),
            F.greatest("p.doc_id", "x.doc_id").alias("dst"),
        )
    )

    # ONE distinct over the union instead of one per leg plus a final
    # one: the hash aggregate's map-side partial dedup absorbs the raw
    # join fan-out either way, so the per-leg exchanges of the
    # almost-final pair sets (2 x ~46M rows at sf1.0) were pure cost
    return jac.union(cont).distinct()


def exact_candidates(signatures: DataFrame) -> DataFrame:
    """(src, dst) for every pair sharing >= 1 shingle — the exhaustive
    inverted-index self-join (candidate superset of ANY overlap-based
    verify rule). Quadratic on hot shingles; for production scale use
    ``prefix_candidates`` (exact for the pipeline rule) or LSH banding.
    """
    sh = signatures.filter(F.col("shingles").isNotNull()).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    return key_pairs(sh.localCheckpoint(eager=False), ["shingle"], "doc_id")
