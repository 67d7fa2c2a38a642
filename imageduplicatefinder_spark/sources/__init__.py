from imageduplicatefinder_spark.sources.files import (
    files_as_documents,
    files_as_media,
    scan_files,
)
from imageduplicatefinder_spark.sources.generator import (
    GeneratedCorpus,
    generate_corpus,
    corpus_to_dataframe,
)
from imageduplicatefinder_spark.sources.catalog import (
    is_catalog_ref,
    load_corpus,
    write_corpus,
)
from imageduplicatefinder_spark.sources.jsonl import (
    DOCUMENTS_JSONL_SCHEMA,
    read_documents_jsonl,
    write_documents_jsonl,
)
from imageduplicatefinder_spark.sources.tables import load_table

__all__ = [
    "DOCUMENTS_JSONL_SCHEMA",
    "GeneratedCorpus",
    "generate_corpus",
    "corpus_to_dataframe",
    "files_as_documents",
    "files_as_media",
    "is_catalog_ref",
    "load_corpus",
    "load_table",
    "write_corpus",
    "read_documents_jsonl",
    "scan_files",
    "write_documents_jsonl",
]
