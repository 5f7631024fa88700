"""Compound ES query types composed over the logical index: dis_max,
multi_match, constant_score, boosting.

The reference talks to a stock ES endpoint through
``QueryBuilders`` (reference
`src/main/java/com/jamesmcguigan/nlp/v1/classifier/OpenNLPClassifierES.java:14`
imports the whole builder surface;
`utils/elasticsearch/ESClient.java` is a plain RestHighLevelClient), so
its users have every compound query type; these re-express the
remaining core types over the same BM25 contribution machinery as
``bm25.py`` (identical idf/tf_hat spec, float64,
(score DESC, doc_id ASC) ranking).

Scale shape: every operator here is ONE corpus postings scan — the
clause/term table is broadcast, per-doc scores come out of a single
hash aggregation, and the top-k is a bounded window.  Nothing shuffles
the postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..analyzer.chain import get_analyzer
from ..index.build import LogicalIndex
from .bm25 import bm25_contrib, idf_col

_TOPK_SCHEMA = "rank bigint, doc_id bigint, score double"


def _contribs(index: LogicalIndex, clause_df: DataFrame) -> DataFrame:
    """postings ⨝ broadcast(clause_df(term, ...)) with a ``contrib``
    BM25 column; clause_df's extra columns pass through."""
    stats = index.corpus_stats
    terms = clause_df.join(index.term_stats, "term", "left").withColumn(
        "idf", idf_col(F.col("df"), stats["doc_count"])
    )
    keep = [c for c in clause_df.columns if c != "term"]
    return index.postings.join(
        F.broadcast(terms.select("term", "idf", *keep)), "term"
    ).withColumn("contrib", bm25_contrib(F.col("idf"), stats["avgdl"]))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.orderBy(F.desc(F.round("score", 9)), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("rank").cast("bigint").alias("rank"),
                "doc_id", "score")
    )


def dis_max_topk(
    index: LogicalIndex,
    queries: list[str],
    tie_breaker: float = 0.0,
    k: int = 10,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``dis_max``: per doc, score = best sub-query score +
    tie_breaker × (sum of the other sub-query scores).  Each sub-query
    is a match query (OR semantics, duplicate terms once)."""
    tok = get_analyzer(analyzer).tokenize
    rows = [
        (t, qi) for qi, q in enumerate(queries) for t in sorted(set(tok(q)))
    ]
    spark = index.postings.sparkSession
    if not rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    clause = spark.createDataFrame(rows, "term string, qidx int")
    per_q = (
        _contribs(index, clause)
        .groupBy("doc_id", "qidx")
        .agg(F.sum("contrib").alias("qscore"))
    )
    scored = per_q.groupBy("doc_id").agg(
        (F.max("qscore")
         + F.lit(float(tie_breaker))
         * (F.sum("qscore") - F.max("qscore"))).alias("score")
    )
    return _topk(scored, k)


def multi_match_topk(
    indexes: dict[str, LogicalIndex],
    query: str,
    field_boosts: dict[str, float] | None = None,
    mode: str = "best_fields",
    tie_breaker: float = 0.0,
    k: int = 10,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``multi_match`` over per-field indexes.  ``best_fields`` =
    dis_max across fields (+ tie_breaker); ``most_fields`` = sum of
    field scores.  Each field index is scanned once with its own
    broadcast term probe (fields are independent posting sets — the
    scans are inherent, not a plan defect)."""
    if mode not in ("best_fields", "most_fields"):
        raise ValueError(f"unknown multi_match mode {mode!r}")
    field_boosts = field_boosts or {}
    parts = []
    for field, index in sorted(indexes.items()):
        tok = get_analyzer(analyzer).tokenize
        terms = sorted(set(tok(query)))
        if not terms:
            continue
        spark = index.postings.sparkSession
        clause = spark.createDataFrame([(t,) for t in terms], "term string")
        boost = float(field_boosts.get(field, 1.0))
        parts.append(
            _contribs(index, clause)
            .groupBy("doc_id")
            .agg((F.sum("contrib") * F.lit(boost)).alias("fscore"))
        )
    if not parts:
        spark = next(iter(indexes.values())).postings.sparkSession
        return spark.createDataFrame([], _TOPK_SCHEMA)
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    if mode == "most_fields":
        scored = union.groupBy("doc_id").agg(F.sum("fscore").alias("score"))
    else:
        scored = union.groupBy("doc_id").agg(
            (F.max("fscore")
             + F.lit(float(tie_breaker))
             * (F.sum("fscore") - F.max("fscore"))).alias("score")
        )
    return _topk(scored, k)


def constant_score_topk(
    index: LogicalIndex,
    query_text: str,
    boost: float = 1.0,
    k: int = 10,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``constant_score``: every doc matching the wrapped match
    filter (OR semantics) scores exactly ``boost``; ranking therefore
    falls back to doc_id ASC — deterministic, like ES's stable sort on
    equal scores by _doc."""
    tok = get_analyzer(analyzer).tokenize
    terms = sorted(set(tok(query_text)))
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    probe = spark.createDataFrame([(t,) for t in terms], "term string")
    matched = (
        index.postings.join(F.broadcast(probe), "term")
        .select("doc_id").distinct()
        .withColumn("score", F.lit(float(boost)))
    )
    return _topk(matched, k)


def boosting_topk(
    index: LogicalIndex,
    positive: str,
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``boosting`` query: docs are scored by the positive match
    query; docs that ALSO match the negative query keep their score
    multiplied by ``negative_boost`` (demoted, not excluded)."""
    tok = get_analyzer(analyzer).tokenize
    pos_terms = sorted(set(tok(positive)))
    neg_terms = sorted(set(tok(negative)))
    spark = index.postings.sparkSession
    if not pos_terms:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    pos = spark.createDataFrame([(t,) for t in pos_terms], "term string")
    scored = (
        _contribs(index, pos)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    if neg_terms:
        neg = spark.createDataFrame([(t,) for t in neg_terms], "term string")
        neg_docs = (
            index.postings.join(F.broadcast(neg), "term")
            .select("doc_id").distinct()
            .withColumn("_demote", F.lit(True))
        )
        scored = scored.join(neg_docs, "doc_id", "left").withColumn(
            "score",
            F.when(F.col("_demote"),
                   F.col("score") * F.lit(float(negative_boost)))
            .otherwise(F.col("score")),
        ).drop("_demote")
    return _topk(scored, k)


def cross_fields_topk(
    indexes: dict[str, LogicalIndex],
    query: str,
    k: int = 10,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``multi_match`` mode ``cross_fields``: the fields act as one
    blended field, so a query whose terms are SPLIT across fields
    ("john" in first_name, "smith" in last_name) still scores as a
    full match — unlike best/most_fields, which score each field
    independently and favor one field containing everything.

    Term-centric scoring like Lucene's ``BlendedTermQuery``: each
    term's idf is computed from its blended document frequency
    (``max`` of the per-field dfs — Lucene's blend cap), every field's
    tf-normalized contribution uses that shared idf, and per
    (doc, term) the best field contribution wins; the doc score sums
    over terms.  Plan: one postings scan per field (inherent — fields
    are separate posting sets) against ONE broadcast blended-stats
    probe, a (doc, term) max + doc sum hash aggregation, bounded
    top-k window."""
    tok = get_analyzer(analyzer).tokenize
    terms = sorted(set(tok(query)))
    spark = next(iter(indexes.values())).postings.sparkSession
    if not terms:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    clause = spark.createDataFrame([(t,) for t in terms], "term string")

    # blended df = max over fields (Lucene BlendedTermQuery's cap);
    # doc_count/avgdl are per-corpus and equal across field indexes
    stats_union = None
    for _, index in sorted(indexes.items()):
        s = clause.join(index.term_stats, "term", "left").select(
            "term", F.coalesce(F.col("df"), F.lit(0)).alias("df")
        )
        stats_union = s if stats_union is None else stats_union.unionByName(s)
    blended = stats_union.groupBy("term").agg(F.max("df").alias("df"))
    doc_count = max(ix.corpus_stats["doc_count"] for ix in indexes.values())
    blended = blended.withColumn("idf", idf_col(F.col("df"), doc_count))

    parts = []
    for _, index in sorted(indexes.items()):
        parts.append(
            index.postings.join(
                F.broadcast(blended.select("term", "idf")), "term"
            ).select(
                "doc_id", "term",
                bm25_contrib(F.col("idf"), index.corpus_stats["avgdl"])
                .alias("contrib"),
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    scored = (
        union.groupBy("doc_id", "term")
        .agg(F.max("contrib").alias("best"))
        .groupBy("doc_id")
        .agg(F.sum("best").alias("score"))
    )
    return _topk(scored, k)
