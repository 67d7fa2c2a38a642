"""Connected components via iterative min-label propagation.

Distributed replacement for the reference's BFS clustering
(ref: src/main/java/cluster/Clusterer.java:6-30 — visited-set BFS over
``withinHamming`` neighborhoods). A BFS has no shuffle-free distributed
analog; min-label propagation computes identical components:

    label(v) <- min(label(v), min_{(u,v) in E} label(u))   until fixpoint

Component id = min doc_id of the component — deterministic, unlike the
reference's ``UUID.randomUUID()`` ids (ref: cluster/Clusterer.java:27);
memberships (the graded semantics) are identical.

Scale behavior: each round is one shuffle (groupBy node -> min). Rounds
needed = graph diameter; near-dup clusters are shallow (dup families of
~10 docs, diameter <= 3-4), so this converges in a handful of rounds on
realistic inputs. Each round ``localCheckpoint``s to truncate lineage —
without it the plan doubles per iteration and the job dies at scale
(SURVEY.md §4 hard part (a)).

Disabling AQE for the loop (fewer per-stage driver jobs: 69 -> 24 on
simhash_radius_clusters at sf0.1) was measured at 38-78 s against
12.7-14.6 s with AQE on, for the identical result (BENCH.md): AQE's
runtime broadcast of the per-round label join and its data-sized
partition coalescing are worth far more than the submit latency it
costs. The loop therefore runs under whatever AQE config the caller's
session has; no session conf is touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: edge-count bound at or below which both CC implementations run as a
#: SINGLE bounded driver pass (Arrow collect + the vectorized min-label
#: + pointer-jumping kernel the tile forests already use) instead of
#: iterative Spark rounds. Each distributed round costs a shuffle plus
#: a convergence-check action — pure driver latency on the small, post-
#: contraction graphs every consumer now feeds CC (component stars,
#: verified rep-rep edges) — while 2M edges collect as ~32 MB of two
#: int64 columns: the same guarded bounded-collect dispatch as
#: TILE_MAX_SKETCHES and BROADCAST_VERIFY_MAX_SIGS, with the iterative
#: path remaining the only scalable shape beyond the bound. 0 forces
#: the distributed rounds (the convergence/iteration contract tests
#: monkeypatch it).
CC_DRIVER_MAX_EDGES = 2_000_000


def _driver_guard(edges: DataFrame) -> tuple[DataFrame, DataFrame | None]:
    """The bounded-size dispatch both CC implementations open with:
    ``(e0, labels)``, where ``e0`` is the (src, dst) edges, lazily
    checkpointed so their lineage computes once for the count and
    whichever path runs, and ``labels`` is the one-pass driver result
    within ``CC_DRIVER_MAX_EDGES`` edges, else None (run the rounds).

    The driver pass is exact: nodes are the distinct endpoint values
    (self-loops label themselves, matching the distributed contract)
    and labels are the exact min-label fixpoint, so the output is
    row-identical to the iterative implementations. A null endpoint
    also yields None — null-edge semantics stay on the distributed
    path, the same fall-through style as ``_verify_pairs_vectorized``.
    """
    import numpy as np
    import pandas as pd

    e0 = edges.select("src", "dst").localCheckpoint(eager=False)
    if not CC_DRIVER_MAX_EDGES or e0.count() > CC_DRIVER_MAX_EDGES:
        return e0, None
    pdf = e0.toPandas()
    if pdf.isnull().values.any():
        return e0, None
    from imageduplicatefinder_spark.operators.hamming_lsh import (
        _np_min_label_components,
    )

    spark = e0.sparkSession
    schema = "doc_id long, cluster_id long"
    if not len(pdf):
        return e0, spark.createDataFrame([], schema)
    a = pdf["src"].to_numpy(dtype=np.int64)
    b = pdf["dst"].to_numpy(dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    lab = _np_min_label_components(nodes, inv[: len(a)], inv[len(a):], np)

    return e0, spark.createDataFrame(
        pd.DataFrame({"doc_id": nodes, "cluster_id": nodes[lab]}), schema
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """edges(src:long, dst:long) -> (doc_id:long, cluster_id:long).

    Only nodes that appear in edges are returned; callers union
    singleton nodes back if they need full coverage (the reference
    likewise emits singletons from BFS then drops them at write,
    ref: app/Commands.java:149-151).

    If the label-sum fixpoint is not reached within ``max_iterations``
    (a component with diameter > max_iterations — e.g. a long chain of
    containment hosts), the labels would silently split one component
    into several clusters, so the default is to ``raise``; pass
    ``on_nonconverged="warn"`` to log and return the partial labels.

    At or below ``CC_DRIVER_MAX_EDGES`` edges the computation
    dispatches to one bounded driver pass with the exact same output;
    the driver kernel computes the true fixpoint, so
    ``max_iterations``/``on_nonconverged`` only govern the distributed
    rounds beyond the bound.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"unknown on_nonconverged {on_nonconverged!r}")
    e0, out = _driver_guard(edges)
    if out is not None:
        return out
    sym = e0.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).union(e0.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    sym = sym.localCheckpoint(eager=True)

    # init: every node's label = its own id (lazy — the first label_sum
    # materializes it)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )

    # Convergence check: labels only ever decrease under min-propagation,
    # so the exact sum of labels (decimal(38,0) — no overflow, no float
    # loss) is strictly monotone and stalls exactly at the fixpoint.
    # One cheap aggregate per check instead of a join + count.
    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    converged = False
    prev_sum = label_sum(labels)
    for _ in range(max_iterations):
        # neighbor messages: label(a) offered to b
        msgs = sym.join(labels, sym.a == labels.node).select(
            F.col("b").alias("node"), "label"
        )
        # lazy checkpoint: the convergence check below materializes the
        # round and truncates its lineage
        labels = (
            msgs.union(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = label_sum(labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum

    if not converged:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            "rounds — a component has diameter > max_iterations and its "
            "labels are still propagating (results would be split clusters)"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def refresh_clusters(
    old_components: DataFrame,
    new_edges: DataFrame,
    algorithm: str = "star",
) -> DataFrame:
    """Fold freshly discovered edges into an existing clustering — the
    periodic pass consuming ``incremental_dedup``'s edge output
    (streaming/dedup_stream.py) without re-running candidate
    generation over the historical corpus.

    An existing label (doc_id, cluster_id) IS an edge to the cluster's
    representative, so the union of label-edges and new edges followed
    by connected components yields exactly the clustering of the full
    accumulated graph: new edges can join previously separate clusters
    (their members relabel to the merged minimum) and introduce new
    docs. Star contraction is the default — merge chains across many
    increments can get long, which is the deep-path shape label
    propagation handles worst.

    old_components: (doc_id, cluster_id); new_edges: (src, dst).
    Returns (doc_id, cluster_id) covering every old doc and every doc
    in a new edge.
    """
    if algorithm not in ("star", "labelprop"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    label_edges = old_components.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst")
    )
    all_edges = label_edges.unionByName(new_edges.select("src", "dst"))
    if algorithm == "star":
        return connected_components_star(all_edges)
    return connected_components(all_edges)


def connected_components_star(
    edges: DataFrame,
    max_iterations: int = 50,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same output contract as ``connected_components``,
    including singleton labels for nodes whose only edges are
    self-loops.

    Why a second algorithm: min-label propagation needs O(diameter)
    rounds, which is optimal for shallow dup families (diameter 3-4)
    but degenerates on long chains (e.g. transitive containment hosts:
    a 10^4-long chain needs 10^4 shuffles). Star contraction converges
    in O(log^2 n) rounds PROVEN (typically ~log n observed) regardless
    of diameter:

    - large-star: every node's strictly-larger neighbors re-attach to
      the minimum of its closed neighborhood;
    - small-star: every node's smaller-or-equal neighbors (and itself)
      re-attach to its minimum neighbor.

    Both steps are a groupBy-min + join per round (no per-group sort);
    edge endpoints only ever decrease, so the fixpoint — a star per
    component rooted at the component minimum — is detected by an
    unchanged (count, hash-sum) checksum of the canonical edge set.
    Labels then read directly off the star edges, with cluster_id =
    min member, identical to connected_components (property-tested
    equal on chains/cycles/random graphs in tests/test_lsh_components).

    Pick per shape: label propagation for many shallow components (one
    shuffle per round, fewer rounds than star's two); star for graphs
    that may contain deep paths.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"unknown on_nonconverged {on_nonconverged!r}")
    # bounded-size dispatch on the raw edges (self-loops included — the
    # driver kernel labels self-loop-only nodes as their own singletons,
    # same as the distributed contract below)
    edges, out = _driver_guard(edges)
    if out is not None:
        return out
    # every node mentioned in edges gets a label — contraction works on
    # self-loop-free canonical edges, but self-loop-only nodes must come
    # back as singletons (contract parity with connected_components and
    # the recursive-CTE oracle, which both retain them)
    nodes = (
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    prev = checksum(e)
    converged = prev[0] == 0
    for _ in range(max_iterations):
        if converged:
            break
        # large-star: m = min(closed neighborhood of u); (v, m) for v > u
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least("u", F.col("_mv")).alias("m")
        )
        ls = (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
        )
        # small-star: orient edges v < u; m = min neighbor of u;
        # re-attach every small neighbor AND u itself to m
        oriented = ls.select(F.col("b").alias("u"), F.col("a").alias("v"))
        smins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            oriented.join(smins, on="u")
            .select("v", "m")
            .union(smins.select(F.col("u").alias("v"), "m"))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = checksum(ss)  # materializes the round (lineage truncated)
        e = ss
        if cur == prev:
            converged = True
        prev = cur

    if not converged:
        msg = (
            f"connected_components_star did not converge in "
            f"{max_iterations} rounds (proven bound O(log^2 n); the edge "
            "set is still contracting — results would be over-split)"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # fixpoint is a star per component rooted at the component min;
    # nodes absent from the contracted edges (self-loop-only) are
    # singletons labeled by themselves
    labels = (
        e.select(F.col("b").alias("doc_id"), F.col("a").alias("cluster_id"))
        .union(
            e.select(F.col("a").alias("doc_id"), F.col("a").alias("cluster_id"))
        )
        .distinct()
    )
    if not converged:
        # mid-contraction a node can still carry several partner labels;
        # collapse to the minimum so the partial result is one (possibly
        # over-split) label per node — at the fixpoint this is a no-op
        labels = labels.groupBy("doc_id").agg(
            F.min("cluster_id").alias("cluster_id")
        )
    singletons = nodes.join(
        labels, nodes.node == labels.doc_id, how="left_anti"
    ).select(F.col("node").alias("doc_id"), F.col("node").alias("cluster_id"))
    return labels.unionByName(singletons)
