"""JSONL corpus source/sink — the interchange format LLM training
corpora actually ship in (one JSON object per line, typically
gzip-compressed shards).

Scale rules baked in:

- The reader takes an EXPLICIT schema. Schema inference reads the
  whole dataset once before the real job starts — at 100 TB that is a
  full extra pass; with a declared schema the scan is single-pass and
  Catalyst prunes unreferenced fields at the Jackson parser level.
- Malformed lines must not kill a 1000-executor job (S4 analog, ref:
  src/main/java/app/Commands.java:76-84 — the reference skips files it
  cannot load). PERMISSIVE mode routes bad lines to a corrupt-record
  column; ``bad_lines="skip"`` drops them, ``"keep"`` surfaces them
  for quarantine, ``"strict"`` uses FAILFAST.
- The writer shards by a deterministic key hash, not ``coalesce(1)``:
  a fixed shard count with bounded shard sizes is what downstream
  tokenizer jobs expect, and the write parallelism stays equal to the
  shard count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: documents-table JSONL schema (matches the driver testdata shape)
DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_CORRUPT_COL = "_corrupt_record"


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_JSONL_SCHEMA,
    bad_lines: str = "skip",
) -> DataFrame:
    """Read a JSONL documents corpus with an explicit schema.

    ``bad_lines``: ``"skip"`` (default) drops unparseable lines,
    ``"keep"`` returns them with data columns NULL and the raw line in
    ``_corrupt_record`` (quarantine them downstream), ``"strict"``
    fails the job on the first bad line.
    """
    if bad_lines not in ("skip", "keep", "strict"):
        raise ValueError(f"unknown bad_lines policy {bad_lines!r}")
    if bad_lines == "strict":
        return spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    return _parse_jsonl_lines(spark.read.text(path), schema, bad_lines)


def _parse_jsonl_lines(
    lines: DataFrame, schema: T.StructType, bad_lines: str
) -> DataFrame:
    """Parse a ``value`` column of JSONL lines (batch or streaming)
    against ``schema`` under the ``"skip"`` / ``"keep"`` policy.

    text + from_json rather than the JSON data source: the data source
    forbids any plan whose scan references ONLY the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), which is
    exactly what column pruning produces for aggregate-only consumers
    like ``read_documents_jsonl(p).count()``. from_json carries no such
    restriction, honors the same PERMISSIVE + columnNameOfCorruptRecord
    contract, and Catalyst still prunes unreferenced fields out of the
    parse (OptimizeJsonExprs)."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(_CORRUPT_COL, T.StringType())]
    )
    parsed = (
        # the JSON source ignores blank lines; mirror that (P5 analog)
        lines.filter(F.trim(F.col("value")) != "")
        .select(
            F.from_json(
                "value",
                full,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT_COL},
            ).alias("_j")
        )
        .select("_j.*")
    )
    if bad_lines == "keep":
        return parsed
    return parsed.filter(F.col(_CORRUPT_COL).isNull()).drop(_CORRUPT_COL)


def write_documents_jsonl(
    df: DataFrame,
    path: str,
    num_shards: int = 32,
    shard_key: str = "doc_id",
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Write a corpus as ``num_shards`` JSONL files, sharded by a
    deterministic hash of ``shard_key`` — re-running the write on the
    same data yields the same shard membership (stable diffs, resumable
    downstream consumers), unlike round-robin ``repartition(n)``."""
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    writer = (
        df.repartition(num_shards, F.col(shard_key))
        .write.mode(mode)
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
