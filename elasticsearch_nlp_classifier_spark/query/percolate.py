"""Percolator: reverse search — store queries, match documents.

ES's percolator indexes *queries* and, for each incoming document,
returns the stored queries that would have matched it (the reference's
ES cluster exposes this surface through the same
``RestHighLevelClient`` its ``ESClient.java`` builds).
It's the standard primitive for alerting/routing over a document
stream — a shape a training-data pipeline reuses for rule-based
document tagging at ingest.

Spark-first design (no per-doc loop over queries):

1. **Registration** analyzes each query string once into a term table
   ``(query_id, term)`` plus per-query requirements ``(query_id,
   n_terms, min_should_match)``.  ``operator='and'`` sets
   ``min_should_match = n_terms``.
2. **Matching** tokenizes the documents (the same vectorized analyzer
   chain as indexing), explodes to distinct ``(doc_id, term)`` pairs,
   and inner-joins the **broadcast** query-term table — the classic
   reverse-index join: cost ∝ (doc tokens) × (queries sharing a
   token), never |docs| × |queries|.
3. One hash aggregation counts matched terms per ``(doc_id,
   query_id)`` and keeps pairs meeting ``min_should_match``.

Scale shape: one narrow tokenize pass, one broadcast join, one
partial-aggregated groupBy on ``(doc_id, query_id)`` — a single
shuffle whose size is the number of candidate (doc, query) pairs.  A
registry of millions of queries would flip the broadcast to a shuffle
join on ``term``; Spark's AQE makes that call from the actual build
side size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer.chain import get_analyzer
from ..analyzer.spark_udfs import analyze

__all__ = ["register_queries", "percolate"]


def register_queries(
    spark,
    queries: list[tuple[int, str]],
    analyzer: str = "code",
    operator: str = "and",
    min_should_match: int | None = None,
) -> DataFrame:
    """Analyze ``(query_id, query_text)`` rows into the percolator's
    stored form: ``(query_id, term, n_terms, msm)``.  ``operator`` is
    ES match-query semantics: ``'and'`` → all terms required, ``'or'``
    → ``min_should_match`` terms (default 1).  Duplicate terms inside
    one query collapse (ES counts unique matched terms)."""
    chain = get_analyzer(analyzer)
    rows = []
    for qid, text in queries:
        terms = sorted(set(chain.tokenize(text)))
        if not terms:
            continue
        n = len(terms)
        msm = n if operator == "and" else (min_should_match or 1)
        rows.extend((qid, t, n, min(msm, n)) for t in terms)
    return spark.createDataFrame(
        rows, "query_id bigint, term string, n_terms int, msm int"
    )


def percolate(
    docs: DataFrame,
    registered: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "code",
) -> DataFrame:
    """For every document, the registered queries it satisfies.

    Returns ``(doc_id, query_id, matched_terms)`` for pairs where the
    count of distinct matched terms ≥ the query's ``msm``."""
    tokens = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(analyze(F.col(text_col), analyzer)).alias("term"),
        )
        .distinct()
    )
    return (
        tokens.join(F.broadcast(registered), "term")
        .groupBy("doc_id", "query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("matched_terms"),
            F.first("msm").alias("_msm"),
        )
        .where(F.col("matched_terms") >= F.col("_msm"))
        .select("doc_id", "query_id", "matched_terms")
    )


def percolate_scored(
    docs: DataFrame,
    registered: DataFrame,
    index,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "code",
) -> DataFrame:
    """Scored percolation — ES's ``percolate`` query inside a ranked
    search: matching stored queries come back SCORED against the
    document, so alert consumers can rank which subscriptions a doc
    satisfies best.

    Engine scoring spec (the BM25 contract transplanted): for each
    (doc, matching query),

        score = Σ_{matched terms} idf(t) · tf/(tf + k1(1-b+b·dl/avgdl))

    with idf/avgdl from ``index`` (the registered corpus's statistics
    — ES uses the percolator index's stats the same way) and tf/dl
    from the DOCUMENT being percolated.  Match gating is identical to
    `percolate` (distinct matched terms ≥ msm).

    Plan: one tokenize pass builds per-doc (term, tf, dl); the stored
    queries broadcast; one hash aggregation per (doc, query).  Returns
    ``(doc_id, query_id, matched_terms, score)``.
    """
    from .bm25 import bm25_contrib, idf_col

    stats = index.corpus_stats
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(analyze(F.col(text_col), analyzer)).alias("term"),
    )
    tf_tbl = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dl_tbl = tf_tbl.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    contrib = (
        tf_tbl.join(F.broadcast(registered), "term")
        .join(index.term_stats.select("term", "df"), "term", "left")
        .join(dl_tbl, "doc_id")
        .withColumn("idf", idf_col(F.coalesce(F.col("df"), F.lit(0)),
                                   stats["doc_count"]))
        .withColumn("c", bm25_contrib(F.col("idf"), stats["avgdl"]))
    )
    return (
        contrib.groupBy("doc_id", "query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("matched_terms"),
            F.first("msm").alias("_msm"),
            F.sum("c").alias("score"),
        )
        .where(F.col("matched_terms") >= F.col("_msm"))
        .select("doc_id", "query_id", "matched_terms", "score")
    )
