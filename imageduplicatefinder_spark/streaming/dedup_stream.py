"""Structured Streaming operators.

The reference is strictly batch (SURVEY §2.7 — its web UI polls job
progress, which is telemetry, not data streaming). These operators are
the engine's forward-looking streaming surface for continuous ingest at
scale: new documents arrive on a stream, exact duplicates are dropped
within a watermark horizon, and per-window ingest stats feed the
metrics table.

Patterns used:
- ``withWatermark + dropDuplicatesWithinWatermark([sha256])`` —
  streaming exact-dedup with state actually bounded by the watermark
  horizon (plain ``dropDuplicates`` never evicts keys: the watermark
  only filters late rows, so state grows without bound and duplicates
  arriving after the horizon are still suppressed — the documented
  reason dropDuplicatesWithinWatermark exists).
- windowed groupBy counts — per-window ingest telemetry.
- ``applyInPandasWithState`` — custom stateful operator tracking, per
  content hash, the first-seen arrival and a running duplicate count
  (the streaming analog of the exact-dup pre-pass with per-class
  statistics the batch path gets from groupBy).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(documents_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Drop exact-duplicate documents (by content sha256) arriving
    within the watermark horizon. Input must carry an event-time
    column ``ts``; output keeps the first arrival of each content.

    State is evicted once a key falls behind the watermark
    (``dropDuplicatesWithinWatermark``), so a continuous stream holds
    one state row per distinct content seen within the horizon — NOT
    per distinct content ever. A duplicate arriving after the horizon
    is re-emitted by design (the batch pipeline's exact pre-pass is
    the global dedup; this operator bounds in-flight duplication).

    Batch analog: the sha256 exact-dup pre-pass
    (operators/exact.py; ref BK-tree distance-0 merge,
    index/BKTreeIndex.java:27).
    """
    return (
        documents_stream.withColumn("sha256", F.sha2(F.col("content"), 256))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["sha256"])
    )


def ingest_window_stats(
    documents_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-window ingest counts + byte totals by lang — the streaming
    metrics feed (north_rule: per-partition lineage + row-count metrics,
    streaming flavor)."""
    return (
        documents_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            # octet_length, not length: length() counts characters, which
            # under-reports UTF-8 multibyte ingest volume up to 4x
            F.sum(F.octet_length("content")).alias("total_bytes"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "lang",
            "n_docs",
            "total_bytes",
        )
    )


def incremental_dedup(
    documents_stream: DataFrame,
    history_signatures: DataFrame,
    cfg,
    edges_out: str,
    checkpoint_dir: str,
):
    """Continuous near-dup detection of NEW documents against an
    existing corpus — the streaming form of the batch pipeline's
    candidate/verify stages, via ``foreachBatch``:

    each micro-batch is fingerprinted (same Arrow UDF as the batch
    path), banded, and its bands equi-joined against the UNION of the
    historical band table and the batch's own bands — so a new doc
    pairs both with history and with other docs in the same batch.
    Candidates are verified exactly over the shingle sets with the
    standard Jaccard/containment rule and verified edges land under
    ``edges_out``, ready for a periodic connected-components pass.
    Hot-band cap drops (``lsh.hot_keys``, history and batch) are
    recorded per batch at ``<edges_out>_band_stats`` with a ``side``
    column.

    ``history_signatures`` must be a signatures table — a pipeline
    ``signatures`` checkpoint or ``compute_signatures`` output — so it
    carries ``bands`` and ``shingles``.

    Both outputs are parquet tables partitioned by batch: each batch
    overwrites its own ``<out>/batch_id=<id>`` directory, so a replayed
    batch replaces its output (idempotent) and reading ``<out>`` yields
    a discovered ``batch_id`` column. Addressing the partition by path
    keeps the batch id out of the plan, so every batch after the first
    runs on generated code that is already compiled.

    The historical band table is computed once (not per batch); at
    scale it would be the checkpointed ``bands`` stage of the last
    batch run. Returns the started ``StreamingQuery`` (an
    ``availableNow`` trigger: call ``awaitTermination()`` to drain).
    """
    from pyspark.sql import functions as SF

    from imageduplicatefinder_spark.operators import lsh
    from imageduplicatefinder_spark.operators.signatures import compute_signatures
    from imageduplicatefinder_spark.operators.verify import verify_pairs

    # hot-band cap on the HISTORY side, same as the batch pipeline: a
    # mega-band in the corpus (license boilerplate) would otherwise fan
    # every colliding new doc out O(band_size) per micro-batch
    key, cap = lsh.BAND_KEY, cfg.max_band_size

    def capped_bands(signatures: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(hot-band stats, kept bands) of a signatures table."""
        banded = lsh.band_table(signatures, cfg).localCheckpoint(eager=False)
        # read twice (stats write, kept-bands join): aggregate once
        hot = lsh.hot_keys(banded, key, cap, "band_size").localCheckpoint(
            eager=False
        )
        return hot, lsh.kept_given_hot(banded, hot, key, "doc_id", cap,
                                       "band_size")

    hist_hot, hist_bands = capped_bands(history_signatures)
    hist_bands = hist_bands.localCheckpoint(eager=False)
    hist_sigs = history_signatures.select("doc_id", "simhash", "shingles")
    stats_out = edges_out.rstrip("/") + "_band_stats"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sigs = compute_signatures(
            batch_df.select("repo", "path", "commit", "lang", "content"), cfg
        ).localCheckpoint(eager=True)
        # cap the batch's own bands too: with trigger(availableNow) a
        # whole backlog can land in one batch, and an uncapped mega-band
        # (license boilerplate) self-pairs quadratically on one
        # (band_id, band_hash) key — the exact skew the cap exists for
        new_hot, new_bands = capped_bands(sigs)
        # drops must be visible, not silent — persist the capped-band
        # stats (history + this batch) next to the edges, replayed
        # idempotently per batch_id like the edges
        (
            hist_hot.withColumn("side", SF.lit("history"))
            .unionByName(new_hot.withColumn("side", SF.lit("batch")))
            .write.mode("overwrite")
            .parquet(f"{stats_out}/batch_id={batch_id}")
        )
        all_bands = hist_bands.unionByName(new_bands)
        cands = (
            new_bands.withColumnRenamed("doc_id", "new_id")
            .join(all_bands, on=["band_id", "band_hash"])
            .filter(SF.col("new_id") != SF.col("doc_id"))
            .select(
                SF.least("new_id", "doc_id").alias("src"),
                SF.greatest("new_id", "doc_id").alias("dst"),
            )
            .distinct()
        )
        combined = hist_sigs.unionByName(
            sigs.select("doc_id", "simhash", "shingles")
        )
        edges = verify_pairs(cands, combined, cfg, only_verified=True)
        # foreachBatch is at-least-once: overwriting the batch's own
        # partition directory makes a replayed batch replace its output
        # instead of appending duplicate edges. The id goes in the PATH,
        # not in a lit() column: a literal is inlined into the generated
        # Java source, so every new batch id would compile fresh classes
        edges.write.mode("overwrite").parquet(f"{edges_out}/batch_id={batch_id}")

    return (
        documents_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


DUP_STATE_OUTPUT = (
    "sha256 string, first_path string, first_ts timestamp, dup_count long"
)
DUP_STATE_SCHEMA = "first_path string, first_ts timestamp, dup_count long"


def stateful_dup_tracker(documents_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: for each
    content sha256, keep (first_path, first_ts, dup_count) in the state
    store and emit an updated row whenever new arrivals land.

    Unlike ``dropDuplicates`` (which only suppresses), this surfaces
    duplicate PRESSURE per content class — the continuous-ingest signal
    a training-data pipeline alerts on (a sudden flood of one blob).
    State is per-key and incremental: arbitrarily long streams hold one
    small row per distinct content.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        first_path, first_ts, dup_count = (
            state.get if state.exists else (None, None, 0)
        )
        # a hot key's rows can span several Arrow chunks (at most
        # spark.sql.execution.arrow.maxRecordsPerBatch rows each);
        # first-seen must be the global (ts, path) minimum
        # across ALL chunks, not the head of whichever chunk arrived
        # first — so accumulate a candidate minimum and a total count,
        # then settle first/dup_count once at the end
        n_new = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n_new += len(pdf)
            head = pdf.sort_values(["ts", "path"]).iloc[0]
            if first_ts is None or (head["ts"], head["path"]) < (first_ts, first_path):
                if first_ts is not None:
                    dup_count += 1  # the displaced first-seen becomes a dup
                first_path, first_ts = head["path"], head["ts"]
                n_new -= 1  # the new first-seen row is not a duplicate
        dup_count += n_new
        state.update((first_path, first_ts, dup_count))
        yield pd.DataFrame(
            {
                "sha256": [key[0]],
                "first_path": [first_path],
                "first_ts": [first_ts],
                "dup_count": [dup_count],
            }
        )

    hashed = documents_stream.withColumn("sha256", F.sha2(F.col("content"), 256))
    return hashed.groupBy("sha256").applyInPandasWithState(
        track,
        outputStructType=DUP_STATE_OUTPUT,
        stateStructType=DUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_documents_jsonl(
    spark,
    path: str,
    bad_lines: str = "skip",
    max_files_per_trigger: int | None = 64,
) -> DataFrame:
    """Continuous JSONL ingest: ``readStream`` over a directory of
    JSONL shards with the SAME explicit schema and per-line corrupt-
    record policy as the batch reader (sources/jsonl.py) — drop the
    result into ``dedup_stream``/``incremental_dedup`` for streaming
    dedup of an arriving crawl.

    ``max_files_per_trigger`` bounds micro-batch size (a backlog of
    10^6 shards must not become one giant first batch); None leaves
    Spark's default.
    """
    from imageduplicatefinder_spark.sources.jsonl import (
        DOCUMENTS_JSONL_SCHEMA,
        _parse_jsonl_lines,
    )

    if bad_lines not in ("skip", "keep"):
        # FAILFAST aborts a continuous query on one bad line — never
        # what a 24/7 ingest wants, so it is not offered here
        raise ValueError(f"unknown bad_lines policy {bad_lines!r}")
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _parse_jsonl_lines(
        reader.text(path), DOCUMENTS_JSONL_SCHEMA, bad_lines
    )
