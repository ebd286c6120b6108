"""q44 — the composed corpus-cleaning pipeline, oracle-checked
end-to-end: quality filter → lang filter → exact dedup → near-dup
removal → per-lang survivor counts. The oracle rebuilds every stage in
DuckDB SQL from the same constants (quality expression, shingle CTE,
removal policy)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import clean_corpus
from ..tables import table
from .dedup_queries import _SHINGLE_SQL
from .queries import register
from .text_queries import _QUALITY_SQL_EXPR

_QUALITY_T = 0.7
_LANGS = ("en", "de", "fr")
_JACCARD_T = 0.5


@register(
    "q44_corpus_clean",
    oracle=f"""
    WITH kept0 AS (
      SELECT doc_id, lang, text FROM documents
      WHERE {_QUALITY_SQL_EXPR} >= {_QUALITY_T}
        AND lang IN {tuple(_LANGS)}
    ),
    deduped AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id)
                 AS rn
        FROM kept0
      ) WHERE rn = 1
    ),
    documents_d AS (SELECT * FROM deduped),
    {_SHINGLE_SQL.replace("FROM documents", "FROM documents_d")},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b),
    losers AS (
      SELECT DISTINCT p.doc_b AS doc_id
      FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common)
            >= {_JACCARD_T}
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS kept_docs
    FROM deduped
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    GROUP BY lang
    ORDER BY lang
    """,
)
def q44_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cleaned = clean_corpus(
        docs,
        quality_threshold=_QUALITY_T,
        langs=list(_LANGS),
        jaccard_threshold=_JACCARD_T,
    )
    return (
        cleaned.groupBy("lang")
        .agg(F.count("*").alias("kept_docs"))
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q64 — the SAME corpus-cleaning pipeline through the LSH scale route
# (use_lsh=True). The oracle is IDENTICAL to q44's exact-Jaccard oracle:
# with b=32/r=2 banding, P(candidate | J≥0.5) ≈ 1−(1−0.25)^32 ≈ 1-1e-4
# and the planted dups sit far above threshold, so LSH's verified pair
# set equals the exact pair set (pinned by test_lsh_pairs_equal_exact_
# pairs) — making the hash gate a live end-to-end proof that the scale
# path loses nothing on this corpus.
# --------------------------------------------------------------------------
@register("q64_corpus_clean_lsh", oracle=None)
def q64_corpus_clean_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cleaned = clean_corpus(
        docs,
        quality_threshold=_QUALITY_T,
        langs=list(_LANGS),
        jaccard_threshold=_JACCARD_T,
        use_lsh=True,
    )
    return (
        cleaned.groupBy("lang")
        .agg(F.count("*").alias("kept_docs"))
        .orderBy("lang")
    )


# same oracle as q44 — registered after both exist
from .queries import ORACLE_SQL as _OSQL

_OSQL["q64_corpus_clean_lsh"] = _OSQL["q44_corpus_clean"]
