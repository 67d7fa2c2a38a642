"""Stage checkpointing with per-partition lineage + row-count metrics.

The reference restarts stages manually from CSV files between commands
(hashes.csv -> clusters.csv -> plan.csv, ref: src/main/java/app/
Commands.java:87-94, :130-141, WebServer.java:88-103). Here every stage
writes a Parquet checkpoint under ``<root>/<stage>/<config_hash>/`` —
Iceberg-shaped layout: deterministic table identity per (stage, config),
a ``_meta.json`` sidecar, and rows appended to a ``_metrics`` table
(stage, config_hash, partition_id, rows, wall_s) so a resumed run can
prove which partitions it reused (north_rule: resumable mid-run with
per-partition lineage + metrics).

Resume rule: a stage whose checkpoint exists for the same config hash
AND the same input signature is read back instead of recomputed (ref
analog: WebServer job-progress registry, app/WebServer.java:29-36, made
durable). The input signature (source file set + schema, or the
analyzed-plan semantic hash for in-memory sources) is stored in
``_meta.json`` — without it, rerunning the same config over different
documents against an existing checkpoint_dir would silently return the
previous corpus's results.

Lineage metrics come from the parquet FILE FOOTERS (pyarrow metadata,
driver-side, no Spark job): re-scanning each checkpoint just to count
rows per partition would double every stage's read IO at scale.

Sidecar IO (``_meta.json``) uses the local filesystem — correct for
this sandbox's driver-local checkpoint roots; a deployment writing to
object storage would route these few-KB sidecars through the Hadoop
FileSystem API (same layout, same keys).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from imageduplicatefinder_spark.session import codegen_compiles


def input_signature(df: DataFrame) -> str:
    """Identity of a pipeline input: the sorted source-file set plus the
    schema (metadata-only for the file sources real deployments use);
    for non-file sources (createDataFrame — driver-built, so small by
    construction) the schema plus row count. The file-set form catches
    any corpus change; the in-memory form is a weaker guard (same-count
    different-content inputs alias) but in-memory inputs only occur in
    tests/demos. Folded into checkpoint ``_meta.json`` so a resume only
    reuses stages computed from the SAME input."""
    try:
        files = sorted(df.inputFiles())
    except Exception:  # noqa: BLE001 - non-file sources
        files = []
    stats = []
    for f in files:
        # local files also carry (size, mtime): an in-place overwrite of
        # the same path must change the signature (paths alone would
        # silently replay the previous corpus). Non-local URIs fall back
        # to path-only identity (object stores are immutable-by-key in
        # practice; a Hadoop-FS status call would cover the rest).
        if f.startswith("file:"):
            try:
                st = os.stat(f[len("file:"):])
                stats.append((f, st.st_size, int(st.st_mtime)))
                continue
            except OSError:
                pass
        stats.append((f, -1, -1))
    ident = json.dumps({"files": stats, "schema": df.schema.simpleString()})
    if not files:
        ident += f"|count={df.count()}"
    return hashlib.sha256(ident.encode()).hexdigest()[:16]


_PART_RE = re.compile(r"part-(\d+)")


def _footer_partition_rows(d: str) -> dict[int, int]:
    """Per-output-partition row counts from parquet footers (metadata
    only — no data read, no Spark job)."""
    import pyarrow.parquet as pq

    out: dict[int, int] = {}
    for i, name in enumerate(sorted(os.listdir(d))):
        if not name.endswith(".parquet") or name.startswith("_"):
            continue
        m = _PART_RE.match(name)
        # fallback pids live in a negative namespace so a non part-NNNNN
        # file can never collide with (and overwrite) a parsed pid
        pid = int(m.group(1)) if m else -(i + 1)
        out[pid] = pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
    return out


@dataclass
class StageMetric:
    stage: str
    config_hash: str
    rows: int
    n_partitions: int
    wall_s: float
    reused: bool
    codegen_compiles: int


@dataclass
class CheckpointManager:
    """``durability``:

    - "disk" (default): every stage writes a zstd parquet checkpoint
      (resumable, per-partition lineage from footers) — the production
      mode the north_rule requires;
    - "memory": stages materialize via ``localCheckpoint`` (cluster
      memory/local shuffle dirs), no parquet, no resume. For
      benchmarking the compute path on a single box whose ONE shared
      disk would otherwise impose a serial floor that a real cluster —
      where checkpoint storage scales with executors — does not have.
      Metrics still record rows/partitions per stage (one count per
      stage against the materialized RDD, no lineage replay).

    Checkpoint parquet uses zstd (not the snappy default): checkpoint
    bytes are written once and read once, so trading CPU (which scales
    with cores) for bytes on the non-scaling shared disk is the right
    side of the bargain at both bench and cluster scale.
    """

    spark: SparkSession
    root: str
    config_hash: str
    input_sig: str | None = None
    durability: str = "disk"
    metrics: list[StageMetric] = field(default_factory=list)
    _pending_metric_rows: list[tuple] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.durability not in ("disk", "memory"):
            raise ValueError(f"unknown durability {self.durability!r}")

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage, self.config_hash)

    def exists(self, stage: str) -> bool:
        d = self._dir(stage)
        meta_path = os.path.join(d, "_meta.json")
        if not (os.path.exists(meta_path)
                and os.path.exists(os.path.join(d, "_SUCCESS"))):
            return False
        try:
            meta = json.load(open(meta_path))
        except (OSError, json.JSONDecodeError):
            # a truncated sidecar (crash mid-dump) means "checkpoint
            # absent": recompute instead of permanently failing resume
            return False
        if self.input_sig is not None and meta.get("input_sig") != self.input_sig:
            return False  # same config, DIFFERENT corpus: recompute
        return True

    def materialize(self, stage: str, df_fn) -> DataFrame:
        """Run ``df_fn()`` and checkpoint, or read back an existing
        checkpoint for this (config, input). Records a metrics row
        either way.

        ``codegen_compiles`` (on the StageMetric, and in ``_meta.json``
        for a computed disk stage) is the number of classes the JVM
        compiled while the stage ran; 0 means its generated code was
        already cached. The counter is session-wide, so work running
        concurrently — the pipeline's doc_id check overlaps the stages
        after ``documents_hashed`` — lands in whichever stage was
        running at the time."""
        d = self._dir(stage)
        t0 = time.monotonic()
        c0 = codegen_compiles(self.spark)
        if self.durability == "memory":
            df = df_fn()
            # lazy checkpoint + count: the count IS the materializing
            # action, so the stage runs ONE job and one data pass
            # (eager=True + count would serialize the partitions twice)
            out = df.localCheckpoint(eager=False)
            rows = out.count()
            n_parts = out.rdd.getNumPartitions()
            wall = time.monotonic() - t0
            self.metrics.append(
                StageMetric(stage, self.config_hash, rows, n_parts, wall,
                            False, codegen_compiles(self.spark) - c0)
            )
            self._pending_metric_rows.append(
                (stage, self.config_hash, -1, rows, wall, False)
            )
            return out
        if self.exists(stage):
            out = self.spark.read.parquet(d)
            meta = json.load(open(os.path.join(d, "_meta.json")))
            self.metrics.append(
                StageMetric(stage, self.config_hash, meta["rows"],
                            meta["n_partitions"], time.monotonic() - t0, True,
                            codegen_compiles(self.spark) - c0)
            )
            # durable proof of WHAT a resumed run reused: the same
            # per-partition rows, flagged reused=true in _metrics
            self._append_metrics_table(
                {**meta, "wall_s": time.monotonic() - t0}, reused=True
            )
            return out

        df: DataFrame = df_fn()
        df.write.mode("overwrite").option("compression", "zstd").parquet(d)
        out = self.spark.read.parquet(d)

        # per-partition lineage from the parquet footers — metadata only,
        # no second scan of the stage output
        part_rows = _footer_partition_rows(d)
        rows = sum(part_rows.values())
        wall = time.monotonic() - t0
        compiles = codegen_compiles(self.spark) - c0
        meta = {
            "stage": stage,
            "config_hash": self.config_hash,
            "input_sig": self.input_sig,
            "rows": rows,
            "n_partitions": len(part_rows),
            "wall_s": wall,
            "codegen_compiles": compiles,
            "partitions": {str(pid): cnt for pid, cnt in part_rows.items()},
        }
        with open(os.path.join(d, "_meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        self.metrics.append(
            StageMetric(stage, self.config_hash, rows, len(part_rows), wall,
                        False, compiles)
        )
        self._append_metrics_table(meta, reused=False)
        return out

    def _append_metrics_table(self, meta: dict, reused: bool) -> None:
        # buffered: one tiny parquet append per stage would cost a Spark
        # job each; rows accumulate and flush once per pipeline run
        rows = [
            (meta["stage"], meta["config_hash"], int(pid), int(cnt),
             float(meta["wall_s"]), reused)
            for pid, cnt in meta["partitions"].items()
        ] or [(meta["stage"], meta["config_hash"], -1, 0,
               float(meta["wall_s"]), reused)]
        self._pending_metric_rows.extend(rows)

    def flush_metrics(self) -> None:
        """Append pending rows to the ``_metrics`` parquet table.

        Written driver-side with pyarrow (same local-sidecar pattern as
        ``_meta.json`` and the footer-based lineage reads): the rows are
        a few KB of driver-held metadata, and routing them through a
        Spark job measured ~4-5 s per pipeline run — createDataFrame
        over a local list parallelizes into defaultParallelism Python
        slices, and the single ``coalesce(1)`` write task then evaluates
        all of them serially, paying one Python-worker round-trip each.
        The file layout (one part-<uuid> file per flush, Spark-readable
        schema) is unchanged, so ``metrics_table()`` and resumed-run
        appends read identically."""
        if not self._pending_metric_rows:
            return
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("stage", pa.string()),
                ("config_hash", pa.string()),
                ("partition_id", pa.int32()),
                ("rows", pa.int64()),
                ("wall_s", pa.float64()),
                ("reused", pa.bool_()),
            ]
        )
        cols = list(zip(*self._pending_metric_rows))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        d = os.path.join(self.root, "_metrics")
        os.makedirs(d, exist_ok=True)
        # write under a dot-prefixed name (hidden from Spark's reader)
        # and rename into place, so a crash mid-write never leaves a
        # torn part file that breaks every later metrics_table() read
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(d, name))
        self._pending_metric_rows = []

    def metrics_table(self) -> DataFrame:
        self.flush_metrics()
        return self.spark.read.parquet(os.path.join(self.root, "_metrics"))
