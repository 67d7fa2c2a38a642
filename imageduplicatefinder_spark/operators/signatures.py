"""Signature stage: documents -> per-row fingerprints.

Spark analog of ``idf hash ROOT --algo ... --out hashes.csv``
(ref: src/main/java/app/Commands.java:56-96): scan -> filter ->
fingerprint UDF -> checkpoint. The reference's single-threaded per-file
loop becomes one Arrow-batched projection; per-file error isolation
(ref: Commands.java:81-84) becomes null-tolerant fingerprinting plus an
error-count metric instead of stderr lines.

Output schema (FIXTURES.md §2 `signatures`):
    doc_id:long (xxhash64 of repo/path/commit — deterministic key),
    repo, path, commit, lang,
    sha256:string (hex — per-row invariant vs reference input),
    size:long, n_tokens:int,
    simhash:long, bands:array<long> (one LSH key per band),
    shingles:array<long> (distinct, sorted — verification is exact
    over these sets)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig
from imageduplicatefinder_spark.functions.fingerprints import make_fingerprint_udf


def add_doc_id(df: DataFrame) -> DataFrame:
    """Deterministic 64-bit key from the natural key (repo, path, commit).

    The reference keys rows by filesystem path string
    (ref: app/Commands.java:70); a fixed-width key shuffles cheaper and
    gives the min-label CC deterministic cluster ids. doc_id is an
    OPTIMIZATION-ONLY shuffle key: the natural key rides along in every
    table, and the pipeline fail-fasts if two distinct natural keys
    collide in 64 bits (plans/pipeline.py — one count-distinct agg over
    the already-materialized hash table). Birthday bound: at n rows the
    expected collisions are ~n^2/2^65 (~3e4 at the 10^12-row design
    point, ~0 below 10^9 rows), so the check matters at full scale; a
    collision aborts the run rather than silently merging unrelated
    documents into one cluster/DELETE decision.
    """
    return df.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))


def widen_if_narrow(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Repartition by ``key`` when the source scan is narrower than the
    cluster — the one narrow-scan rule for pipeline stages and catalog
    queries.

    CPU-bound per-row work fused into the scan stage (sha256, the
    fingerprint UDF, gram builds) serializes on 1-2 tasks when the input
    is one parquet file or one cached partition (guide §2.5 input
    skew); hash-partitioning by ``key`` also lets downstream per-key
    aggregations reuse the exchange. inputFiles() is metadata-only (an
    rdd.getNumPartitions() probe triggers an extra job under AQE);
    non-file sources report 0 files and are small, so they are widened
    too. At real scale the source has more files than cores and this
    is a no-op.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 - conservative: widen on unknown sources
        n_files = 0
    if n_files < parallelism:
        return df.repartition(parallelism * 2, key)
    return df


def hash_documents(
    documents: DataFrame,
    langs: list[str] | None = None,
) -> DataFrame:
    """documents -> narrow per-row hash table (NO Python UDF):
    (doc_id, repo, path, commit, lang, sha256, size).

    This is the cheap first pass that lets the pipeline collapse exact
    duplicates BEFORE fingerprinting — at 10^12-file scale exact copies
    dominate, and running the shingle/MinHash UDF on every copy (as the
    reference hashes every file, ref: app/Commands.java:72-84) wastes
    the bulk of the compute. sha2 is JVM-side whole-stage-codegen.
    """
    df = documents
    if langs:
        df = df.filter(F.col("lang").isin(langs))
    df = widen_if_narrow(add_doc_id(df))
    return df.select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2(F.col("content").cast("string"), 256).alias("sha256"),
        F.length("content").cast("long").alias("size"),
    )


def compute_signatures(
    documents: DataFrame,
    cfg: DedupConfig,
    langs: list[str] | None = None,
    widen: bool = True,
) -> DataFrame:
    """documents(repo,path,commit,lang,content) -> signatures, in the
    module schema above (every row carries ``bands`` and ``shingles``).

    ``langs`` is the pushed-down extension-filter analog
    (ref: app/Commands.java:74 `(?i).*\\.(jpg|jpeg|png|bmp)`).
    ``widen=False`` skips the narrow-scan repartition — pass it when
    the input already crossed a shuffle (e.g. the pipeline's
    rep-filter join), where the extra content exchange is pure cost.
    """
    df = documents
    if langs:
        df = df.filter(F.col("lang").isin(langs))
    df = add_doc_id(df)

    if widen:
        df = widen_if_narrow(df)

    fp = make_fingerprint_udf(cfg)
    df = df.select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2(F.col("content").cast("string"), 256).alias("sha256"),
        F.length("content").cast("long").alias("size"),
        fp(F.col("content")).alias("fp"),
    ).select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "lang",
        "sha256",
        "size",
        F.col("fp.n_tokens").alias("n_tokens"),
        F.col("fp.simhash").alias("simhash"),
        F.col("fp.bands").alias("bands"),
        F.col("fp.shingles").alias("shingles"),
    )
    return df
