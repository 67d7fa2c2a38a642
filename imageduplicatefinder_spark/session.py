"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings are what we'd submit on a
real cluster via spark-submit --py-files (AQE on, Arrow on, UTC, shuffle
partitions sized to the stage, not the 200 default).
"""

from __future__ import annotations

import os
import re
import site

from pyspark.sql import SparkSession

# every valid local master shape: "local", "local[N]", "local[*]", and
# the retry form "local[N,M]" / "local[*,M]"
_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:,\d+)?\])?$")


def _local_cores(master: str) -> int | None:
    """Parallelism implied by a local master string, or None if the
    master is not local (cluster managers size shuffles differently)."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return None
    spec = m.group(1)
    if spec is None:       # bare "local" is single-threaded
        return 1
    if spec == "*":
        return os.cpu_count() or 1
    return int(spec)


#: the directory this package is imported from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_daemon_module(master: str, worker_path: list[str]) -> str | None:
    """The Python worker daemon to start for ``master``: this package's
    lazy-zip-cache daemon (``daemon.py``) for a local master, else None
    (keep ``pyspark.daemon``). On a cluster, ``--py-files`` reach the
    workers only per task, after the daemon has started.

    ``worker_path`` is where a local worker looks for modules (the
    JVM's cwd, ``PYTHONPATH``, site-packages). If this package is not
    on it — a driver script that made the package importable only
    through ``sys.path`` — the daemon could not start, so None."""
    if _local_cores(master) is None:
        return None
    if _PACKAGE_ROOT not in {os.path.abspath(p) for p in worker_path}:
        return None
    return "imageduplicatefinder_spark.daemon"


def _worker_path() -> list[str]:
    """Import roots of a local Python worker: Spark starts it with
    ``python -m`` in the JVM's cwd (the driver's, at launch) and the
    driver's ``PYTHONPATH``."""
    env = os.environ.get("PYTHONPATH", "")
    return [os.getcwd(), *(p for p in env.split(os.pathsep) if p),
            *site.getsitepackages(), site.getusersitepackages()]


def _default_cpus(env_cpus: str | None, affinity: int) -> str:
    """Local width when no master is given: ``SPARK_GRAFT_CPUS`` if
    set, else the CPUs this process may run on (its affinity mask, not
    the machine's core count, so a pinned container is not oversold)."""
    return env_cpus or str(affinity)


def _default_driver_mem(env_mem: str | None, mem_total_kb: int) -> str:
    """Driver heap when none is given: ``SPARK_DRIVER_MEM`` if set,
    else half of MemTotal, at least 2 GB — a heap cap above physical
    RAM lets the JVM grow until the host starts swapping or killing."""
    if env_mem:
        return env_mem
    return f"{max(2048, mem_total_kb // 2048)}m"


def _mem_total_kb() -> int:
    """MemTotal from /proc/meminfo; 0 where it is unreadable (the
    2 GB floor of ``_default_driver_mem`` then applies)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def get_spark(
    app_name: str = "imageduplicatefinder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = _default_cpus(os.environ.get("SPARK_GRAFT_CPUS"),
                             len(os.sched_getaffinity(0)))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode instead of the 200 default
        shuffle_partitions = _local_cores(master) or 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing only holds partitions at the core
        # count while they exceed minPartitionSize (default 1 MB). This
        # repo's CPU-heavy stages (the verify attach joins, UDF
        # fingerprints) often shuffle only a few MB, so the default
        # merges them below the core count and idles executors exactly
        # where compute is densest. 16 KB keeps AQE's empty-partition
        # cleanup while preserving parallelism; at cluster scale
        # partitions are far above either bound, so behavior there is
        # unchanged. (Measured: verify stage 7.2 s -> 5.6 s at
        # local[8] on the x64 bench workload.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns every explode(column) into an
        # inferred `size(col) > 0 AND isnotnull(col)` filter, and
        # predicate pushdown then INLINES the column's full defining
        # expression (split/transform/md5 chains here) into a Filter
        # evaluated below the first exchange — the generator expression
        # runs up to 3x, on the narrow pre-shuffle side (guide §7.2
        # "duplicated subtrees"). Measured on the 13-gram build at
        # sf1.0: 20.8 s -> 7.3 s from this exclusion alone. The rule
        # only prunes empty arrays before a Generate; correctness is
        # unaffected, and none of this repo's exploded arrays are
        # empty-heavy (grams/shingles/bands are >= 1 element by
        # construction).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing (guide §4.2): the record cap exists to bound
        # per-batch memory for WIDE rows, but it also throttles narrow
        # ones — the verify kernel's (src,dst) pairs are 16 B/row, so a
        # 4096-row cap made ~65 KB batches and the per-batch Python
        # costs dominated (measured: the 45.6M-pair verify leg spent
        # ~60% of its wall on the Arrow boundary). Spark 4's
        # maxBytesPerBatch is the direct memory bound: cap bytes at
        # 16 MB (wide rows stop there) and let narrow rows batch up to
        # 64k records. Batch size never changes results — every kernel
        # here is batch-split independent (the streaming oracle test
        # pins that property explicitly).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        .config("spark.driver.memory",
                _default_driver_mem(os.environ.get("SPARK_DRIVER_MEM"),
                                    _mem_total_kb()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated classes are cached JVM-wide, keyed by their source,
        # in a Guava cache of 100 entries by default. One long-lived
        # session runs the pipeline legs, the stream drain and the
        # 84-query catalog again and again: ~1,100 distinct compiles
        # (993 for one catalog round, ~100 more for the pipeline legs),
        # so at 100 every op evicted and re-compiled its classes
        # (Janino, then a fresh JIT). Measured on a 4-vCPU host
        # (BENCH.md, codegen cache): a warm catalog op compiles 196-210
        # classes at 100 and 0 here, a second 84-query round at sf0.01
        # 1,358 vs 6. 2048 is ~2x the plan set because Guava splits
        # the cap across its segments. A static SQL conf: it only takes
        # effect on the builder, before getOrCreate.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # the cache key is the generated source, and by default that
        # source names its class after the whole-stage codegen id. AQE
        # numbers stages in the order their inputs finish, so a repeat of
        # one plan can renumber identical stages and miss the cache
        # (measured: 4-11 compiles in clusters/plan on a repeated lsh
        # run). Without the id, identical stage bodies share one class
        # across runs and across queries; explain output keeps the id.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    daemon = _python_daemon_module(master, _worker_path())
    if daemon is not None:
        # workers fork from the daemon, so its lazy zip cache reaches
        # every Python task: 0.16-0.20 s -> 0.03-0.04 s of CPU per task
        # (daemon.py)
        builder = builder.config("spark.python.daemon.module", daemon)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes compiled so far by this session's JVM: the count of
    Spark's codegen compilation-time histogram. A cache hit compiles
    nothing, so the delta across a repeated job shows whether its
    generated code stayed resident. JVM-wide: work running concurrently
    on other threads lands in the same count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
