"""Non-ASCII correctness sweep (round-4 verdict Next #6): every oracled
documents-table query must still hash-match DuckDB on a UTF-8 corpus —
accented Latin, CJK, Cyrillic, Greek, emoji, combining sequences and
RTL text, with planted exact/reorder/near-dup twins so the pair- and
cluster-emitting queries are non-vacuous.

Known, documented cross-engine divergence EXCLUDED from the corpus:
locale-special case folding (Turkish dotted İ, where JVM lower() emits
'i' + U+0307 while DuckDB emits plain 'i'). Queries that lowercase text
(bpe_token_counts, type-2 clone normalization) would diverge on those
few code points; that is an ICU-vs-DuckDB library difference, not an
operator bug, and ordinary-cased Unicode (including Σ/σ) folds
identically. Everything else — code-point-based length/substr, md5 over
UTF-8 bytes, \\w-class regexes, and the ASCII-projected levenshtein
kernel (queries.py q_edit_distance_pairs) — is pinned here.
"""

import hashlib

import duckdb
import pandas as pd
import pytest

from imageduplicatefinder_spark.queries import ORACLES, QUERIES

# the oracled queries that read ONLY the documents table (streaming and
# multi-table relational queries are out of scope for a text sweep)
SWEEP = [
    "token_set_dup_groups",
    "token_set_dup_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_prefix_pairs",
    "ngram_containment_pairs",
    "char_ngram_jaccard_pairs",
    "containment_confirmed",
    "dedup_keeper_plan",
    "quality_keeper_plan",
    "deduped_corpus",
    "quarantine_plan",
    "near_dup_clusters_exact",
    "dedup_funnel_stats",
    "source_mirror_pairs",
    "cross_source_dup_ownership",
    "code_clone_classes",
    "type2_clone_classes",
    "edit_distance_pairs",
    "winnow_match_pairs",
    "minhash_band_pairs_portable",
    "lsh_recall_report",
    "tfidf_cosine_pairs",
    "simhash_hamming_pairs",
    "gradsign_hamming_pairs_portable",
    "simhash_radius_clusters",
    "token_stats",
    "quality_scores",
    "gopher_quality_filter",
    "repetition_stats",
    "lang_id_heuristic",
    "doc_fingerprint",
    "winnowing_fingerprints",
    "vocab_top_terms",
    "top_terms_per_doc",
    "dup_rate_by_lang",
    "duplicate_ngram_coverage",
    "chunk_dedup_corpus",
    "pii_redaction",
    "bpe_token_counts",
    "unigram_logprob_quality",
    "token_budget_shards",
    "train_val_test_split",
    "stratified_sample",
    "lang_file_counts",
]


def _utf8_corpus():
    """UTF-8 docs with planted duplicate structure: exact dup (1,2),
    reorder twin (3), one-token near-dup (4), containment (5 contains
    1's text), plus standalone scripts. Repeated phrases make n-gram /
    winnowing / repetition queries non-vacuous."""
    base = "caffè naïve jalapeño über żółć straße résumé 中文 データ"
    long_run = " ".join(
        f"слово{i} λέξη{i} كلمة{i} שדה{i} émoji🚀{i}" for i in range(8)
    )
    rows = [
        (1, base + " " + long_run),
        (2, base + " " + long_run),                       # exact dup of 1
        (3, long_run + " " + base),                       # reorder twin
        (4, base + " " + long_run.replace("слово3", "слово③")),  # near-dup
        (5, "préfixe " + base + " " + long_run + " suffixe 後綴"),  # contains 1
        (6, "étoile étoile étoile mixed normalization forms"),
        (7, "العربية نص طويل مع كلمات مكررة مكررة مكررة في الجملة هذه"),
        (8, "日本語のテキスト。句読点、括弧（かっこ）や「引用」を含む。"),
        (9, "dotted-I-free ASCII line with email test@example.com "
            "and phone 555-123-4567 for the PII tier"),
        (10, "Ελληνικά γράμματα Σίγμα σίγμα ΣΊΓΜΑ plus emoji 🎉🎊 "
             "and ZWJ sequence 👩‍💻 inside"),
    ]
    out = []
    for i, t in rows:
        out.append((i, t, ["fr", "ru", "ar", "ja", "en", "el"][i % 6],
                    f"src{i % 3}", len(t)))
    return out


def _norm_hash(df: pd.DataFrame) -> str:
    """The driver's compare: columns sorted by name, rows sorted,
    floats at 6 decimals (mirrors tools/check_oracles.py)."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    rows = sorted(
        "\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def utf8_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("utf8corpus")
    spark.createDataFrame(
        _utf8_corpus(),
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck(utf8_dir):
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{utf8_dir}/documents.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", SWEEP)
def test_utf8_cross_engine_hash_match(spark, utf8_dir, duck, name):
    sdf = QUERIES[name](spark, utf8_dir).toPandas()
    odf = duck.sql(ORACLES[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: schema {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: {len(sdf)} vs {len(odf)} rows"
    assert _norm_hash(sdf) == _norm_hash(odf), f"{name}: value hash mismatch"


def test_utf8_sweep_is_nonvacuous(spark, utf8_dir):
    """The planted structure must actually fire the dedup machinery:
    pair/cluster queries return rows on this corpus (an all-empty sweep
    would vacuously 'match')."""
    for name in ("token_set_dup_pairs", "ngram_jaccard_pairs",
                 "near_dup_clusters_exact", "edit_distance_pairs",
                 "minhash_band_pairs_portable", "simhash_hamming_pairs",
                 "pii_redaction"):
        assert QUERIES[name](spark, utf8_dir).count() > 0, (
            f"{name} vacuous on the UTF-8 corpus"
        )
