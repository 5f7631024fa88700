"""BM25 top-k over the logical index — the match-query semantics the
reference delegates to ES/Lucene (`matchQuery`, `ElasticsearchTest.java:57`;
top-k from/size :60-61), re-expressed as one Catalyst plan.

Engine scoring spec (documented here, implemented identically in the
pandas oracle `oracle.py` and the WAND path `query/wand.py`):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))          # Lucene BM25
    tf_hat(t,d) = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q,d)  = Σ_{t ∈ unique(analyze(q)) ∩ d} idf(t) * tf_hat(t,d)

k1 = 1.2, b = 0.75, float64 everywhere; duplicate query terms count once;
ranking = (score DESC, doc_id ASC) — deterministic, rank-stable.

Scale shape: query set is tiny → broadcast; postings never shuffle for
the probe (broadcast hash join on term); the only shuffle is the
groupBy(query_id, doc_id) partial/final agg, and the top-k window runs
per query_id partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..analyzer.spark_udfs import analyze
from ..index.build import LogicalIndex

K1 = 1.2
B = 0.75


def idf_col(df_col, doc_count: int):
    n = F.lit(float(doc_count))
    return F.log(
        F.lit(1.0) + (n - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def bm25_contrib(weight, avgdl: float):
    """``weight * tf / (tf + k1 * (1 - b + b * dl / avgdl))`` over the
    ``tf`` and ``dl`` columns — the tf-saturation term every DataFrame
    scorer builds (``weight`` is idf, or boost × idf; an ``avgdl`` of 0
    counts as 1)."""
    return weight * F.col("tf") / (
        F.col("tf")
        + F.lit(K1) * (F.lit(1.0 - B)
                       + F.lit(B) * F.col("dl") / F.lit(float(avgdl) or 1.0))
    )


def analyze_queries(queries: DataFrame, analyzer: str = "code") -> DataFrame:
    """(query_id, term) — unique analyzed terms per query."""
    if analyzer == "simple_code":
        from ..analyzer.spark_udfs import simple_code_tokens

        tokens = simple_code_tokens("query_text")
    else:
        tokens = analyze("query_text", analyzer)
    return queries.select(
        "query_id", F.explode(tokens).alias("term")
    ).distinct()


def bm25_scores(
    index: LogicalIndex,
    queries: DataFrame,
    analyzer: str = "code",
) -> DataFrame:
    """(query_id, doc_id, score) — per-doc aggregated BM25 scores of
    the full match set, UNranked and uncut.  The building block for
    rankers that must transform scores before any top-k boundary
    (e.g. ``search.indices_boost_topk`` multiplies per-index boosts
    in); `bm25_topk` is this plus the rank window."""
    stats = index.corpus_stats
    qterms = analyze_queries(queries, analyzer)
    qterms = qterms.join(index.term_stats, "term").withColumn(
        "idf", idf_col(F.col("df"), stats["doc_count"])
    )

    return (
        index.postings.join(
            F.broadcast(qterms.select("query_id", "term", "idf")), "term"
        )
        .withColumn("contrib", bm25_contrib(F.col("idf"), stats["avgdl"]))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def bm25_topk(
    index: LogicalIndex,
    queries: DataFrame,
    k: int | None = None,
    analyzer: str = "code",
) -> DataFrame:
    """(query_id, rank, doc_id, score) for the top-k docs per query.

    ``k`` defaults to the per-query ``k`` column of ``queries`` when
    present (FIXTURES F3), else 10.
    """
    scored = bm25_scores(index, queries, analyzer)

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))

    if k is not None:
        topk = ranked.where(F.col("rank") <= F.lit(int(k)))
    elif "k" in queries.columns:
        topk = ranked.join(
            F.broadcast(queries.select("query_id", "k")), "query_id"
        ).where(F.col("rank") <= F.col("k"))
    else:
        topk = ranked.where(F.col("rank") <= 10)

    return topk.select("query_id", "rank", "doc_id", "score").orderBy(
        "query_id", "rank"
    )


def bool_query_frame(
    index: LogicalIndex,
    must: list[str] | None = None,
    should: list[tuple[str, float]] | None = None,
    must_not: list[str] | None = None,
    filter_terms: list[str] | None = None,
    analyzer: str = "code",
) -> DataFrame:
    """One ``bool`` level's LEAF clauses → UNCUT ``(doc_id, score,
    n_should)``: every doc satisfying the must/filter/must_not term
    constraints, with the boosted BM25 score and the count of matched
    should terms.  ``minimum_should_match`` and the rank cut stay with
    the caller — `bool_query_topk` applies them directly; the
    nested-``bool`` compiler (`dsl._bool_frame`) first combines should
    counts and scores across sub-frames.

    One plan: every clause term goes into one broadcast join against
    the postings, per-doc clause counts and the boosted score come out
    of a single hash aggregation, and ``must_not`` is a broadcast
    anti-join — corpus scanned once regardless of clause count.
    """
    from ..analyzer.chain import get_analyzer

    tok = get_analyzer(analyzer).tokenize
    # each clause string analyzes to term queries: every token of a
    # must/filter string is required; every token of a should string
    # carries that string's boost.  Duplicate terms collapse per clause.
    must = sorted({t for s in (must or []) for t in tok(s)})
    should_map: dict[str, float] = {}
    for s, b in (should or []):
        for t in tok(s):
            should_map[t] = max(should_map.get(t, 0.0), float(b))
    should = sorted(should_map.items())
    must_not = sorted({t for s in (must_not or []) for t in tok(s)})
    filter_terms = sorted({t for s in (filter_terms or [])
                           for t in tok(s)})
    spark = index.postings.sparkSession
    chain_terms: list[tuple[str, str, float]] = (
        [(t, "must", 1.0) for t in must]
        + [(t, "should", b) for t, b in should]
        + [(t, "filter", 0.0) for t in filter_terms]
    )
    if not chain_terms:
        return spark.createDataFrame(
            [], "doc_id bigint, score double, n_should bigint"
        )
    clause_df = spark.createDataFrame(
        chain_terms, "term string, clause string, boost double"
    )
    stats = index.corpus_stats
    terms = clause_df.join(index.term_stats, "term", "left").withColumn(
        "idf", idf_col(F.col("df"), stats["doc_count"])
    )

    per_term = (
        index.postings.join(
            F.broadcast(terms.select("term", "clause", "boost", "idf")),
            "term",
        )
        .withColumn(
            "contrib",
            bm25_contrib(F.col("boost") * F.col("idf"), stats["avgdl"]),
        )
    )
    agg = per_term.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count(F.when(F.col("clause") == "must", 1)).alias("n_must"),
        F.count(F.when(F.col("clause") == "should", 1)).alias("n_should"),
        F.count(F.when(F.col("clause") == "filter", 1)).alias("n_filter"),
    )
    ok = agg.where(
        (F.col("n_must") == F.lit(len(must)))
        & (F.col("n_filter") == F.lit(len(filter_terms)))
    )
    if must_not:
        mn = spark.createDataFrame(
            [(t,) for t in must_not], "term string"
        )
        excluded = (
            index.postings.join(F.broadcast(mn), "term")
            .select("doc_id").distinct()
        )
        ok = ok.join(excluded, "doc_id", "left_anti")
    return ok.select("doc_id", "score", "n_should")


def bool_query_topk(
    index: LogicalIndex,
    must: list[str] | None = None,
    should: list[tuple[str, float]] | None = None,
    must_not: list[str] | None = None,
    filter_terms: list[str] | None = None,
    minimum_should_match: int | None = None,
    k: int = 10,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``bool`` query, ranked: ``(rank, doc_id, score)``.

    ES scoring semantics:

    - ``must`` terms are all required and contribute BM25 score;
    - ``should`` terms are optional, each contributing
      ``boost × BM25`` when present; with no must/filter clause at
      least ``minimum_should_match`` (default 1) of them must match
      (default 0 when a must/filter clause exists);
    - ``filter_terms`` are required but score 0 (ES filter context);
    - ``must_not`` terms exclude a doc outright.

    Physical shape: `bool_query_frame` (one scan, one hash agg) plus
    the msm filter and the rank window."""
    from ..analyzer.chain import get_analyzer

    tok = get_analyzer(analyzer).tokenize
    if minimum_should_match is None:
        has_req = any(tok(s) for s in (must or [])) or any(
            tok(s) for s in (filter_terms or [])
        )
        minimum_should_match = 0 if has_req else 1
    frame = bool_query_frame(
        index, must=must, should=should, must_not=must_not,
        filter_terms=filter_terms, analyzer=analyzer,
    )
    ok = frame.where(F.col("n_should") >= F.lit(minimum_should_match))
    w = Window.orderBy(F.desc(F.round("score", 9)), F.asc("doc_id"))
    return (
        ok.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("rank").cast("bigint").alias("rank"),
                "doc_id", "score")
    )


def match_filter(
    index: LogicalIndex, query_text: str, analyzer: str = "code"
) -> DataFrame:
    """Unranked matchQuery-as-filter (P5): doc_ids containing ANY analyzed
    query token."""
    spark = index.postings.sparkSession
    q = spark.createDataFrame([(0, query_text)], "query_id int, query_text string")
    terms = analyze_queries(q, analyzer).select("term")
    return (
        index.postings.join(F.broadcast(terms), "term")
        .select("doc_id").distinct()
    )


def explain_score(
    index: LogicalIndex,
    query_text: str,
    doc_id: int,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``_explain`` API: the per-term BM25 breakdown for one
    (query, doc) pair — ``(term, tf, dl, df, idf, tf_hat, contrib)``,
    one row per query term present in the doc, plus matched=false terms
    carried with null posting stats (ES reports non-matching clauses
    too).  The doc filter is pushed into the postings scan (partition/
    predicate pruning applies); the query-term probe is broadcast —
    nothing corpus-sized moves."""
    from ..analyzer.chain import get_analyzer

    stats = index.corpus_stats
    terms = sorted(set(get_analyzer(analyzer).tokenize(query_text)))
    spark = index.postings.sparkSession
    probe = spark.createDataFrame([(t,) for t in terms], "term string")
    hit = (
        index.postings.where(F.col("doc_id") == doc_id)
        .join(F.broadcast(probe), "term")
        .select("term", "tf", "dl")
    )
    joined = (
        probe.join(hit, "term", "left")
        .join(index.term_stats.select("term", "df"), "term", "left")
        .withColumn("idf", idf_col(F.coalesce(F.col("df"), F.lit(0)),
                                   stats["doc_count"]))
        .withColumn("tf_hat", bm25_contrib(F.lit(1.0), stats["avgdl"]))
        .withColumn("contrib", F.col("idf") * F.col("tf_hat"))
        .withColumn("matched", F.col("tf").isNotNull())
    )
    return joined.select(
        "term", "matched", "tf", "dl", "df", "idf", "tf_hat", "contrib"
    ).orderBy("term")
