"""Feature-scoring ES query types: ``rank_feature``,
``distance_feature``, ``pinned``, ``script_score``, and
``combined_fields`` — the remaining relevance-shaping queries of the
endpoint the reference talks to through ``QueryBuilders``
(`src/main/java/com/jamesmcguigan/nlp/v1/classifier/OpenNLPClassifierES.java:14`
imports the whole builder surface; `utils/elasticsearch/ESClient.java`
is a plain RestHighLevelClient, so its users have every query type).

Scoring specs (documented so the DuckDB oracle can replay them
bit-for-bit, float64 everywhere, ranking = (round(score,9) DESC,
doc_id ASC)):

- rank_feature   saturation: boost * f / (f + pivot)
                 log:        boost * ln(scaling + f)
                 sigmoid:    boost * f^exp / (f^exp + pivot^exp)
  pivot default = the exact geometric mean of the positive feature
  values (ES uses an approximate geometric mean; we compute it
  exactly — deterministic and engine-independent).
- distance_feature: boost * pivot / (pivot + |value - origin|)
  (dates in seconds; ES's decay shape, linear in the distance).
- pinned: the listed ids rank first in list order (ES implements this
  as descending constant scores above any organic score), organic
  BM25 results follow with pinned ids removed.
- script_score: score = script(_score, doc) — the script is any
  Column expression over the BM25 score and the doc's fields.
- combined_fields: term-centric multi-field BM25 — the fields are
  merged into one synthetic field per Lucene's BM25F-lite:
  tf'(t,d) = Σ_f w_f · tf_f(t,d), dl'(d) = Σ_f w_f · dl_f(d),
  df'(t) = |{d : t ∈ any field}|, then the standard BM25 formula
  (`bm25.py` spec) over the merged statistics.

Scale shape: every operator is one postings scan (or one per field
for combined_fields — inherent: fields are independent posting sets)
with the tiny term/id set broadcast; feature columns join the scored
doc set on doc_id (hash join, AQE-coalesced); top-k is a bounded
window.  Nothing shuffles the postings relation itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..index.build import LogicalIndex
from .bm25 import bm25_contrib, idf_col


def _ranked(scored: DataFrame, k: int, extra: list[str] = ()) -> DataFrame:
    w = Window.orderBy(F.desc(F.round("score", 9)), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("rank").cast("bigint").alias("rank"),
                "doc_id", "score", *extra)
    )


def _bm25_scores(
    index: LogicalIndex, terms: list[str]
) -> DataFrame:
    """(doc_id, score): full BM25 score set for one OR query (duplicate
    terms count once — `bm25.py` spec), no top-k cut."""
    spark = index.postings.sparkSession
    stats = index.corpus_stats
    tdf = spark.createDataFrame(
        [(t,) for t in sorted(set(terms))], "term string"
    )
    probe = tdf.join(index.term_stats, "term", "left").withColumn(
        "idf", idf_col(F.col("df"), stats["doc_count"])
    )
    return (
        index.postings.join(F.broadcast(probe.select("term", "idf")), "term")
        .withColumn("contrib", bm25_contrib(F.col("idf"), stats["avgdl"]))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


# --- rank_feature -----------------------------------------------------------

def rank_feature_score(
    feature: Column,
    function: str = "saturation",
    pivot: float | None = None,
    exponent: float = 0.6,
    scaling: float = 1.0,
    boost: float = 1.0,
) -> Column:
    """The rank_feature score expression (spec in the module doc).
    ``pivot`` must be resolved by the caller for saturation/sigmoid
    (see :func:`geometric_mean_pivot`)."""
    f = feature.cast("double")
    if function == "saturation":
        if pivot is None:
            raise ValueError("saturation needs a resolved pivot")
        return F.lit(float(boost)) * f / (f + F.lit(float(pivot)))
    if function == "log":
        return F.lit(float(boost)) * F.log(F.lit(float(scaling)) + f)
    if function == "sigmoid":
        if pivot is None:
            raise ValueError("sigmoid needs a resolved pivot")
        fp = F.pow(f, F.lit(float(exponent)))
        pp = F.lit(float(pivot) ** float(exponent))
        return F.lit(float(boost)) * fp / (fp + pp)
    raise ValueError(f"unknown rank_feature function {function!r}")


def geometric_mean_pivot(docs: DataFrame, feature_col: str) -> float:
    """ES's default pivot, computed exactly: exp(mean(ln f)) over the
    strictly-positive feature values (rank_feature fields are
    positive by mapping contract)."""
    row = docs.where(F.col(feature_col) > 0).agg(
        F.exp(F.avg(F.log(F.col(feature_col).cast("double"))))
    ).first()
    return float(row[0])


def rank_feature_topk(
    docs: DataFrame,
    feature_col: str,
    function: str = "saturation",
    pivot: float | None = None,
    exponent: float = 0.6,
    scaling: float = 1.0,
    boost: float = 1.0,
    k: int = 10,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Standalone ``rank_feature`` query: matches every doc that has
    the feature, scored by the feature alone."""
    if pivot is None and function in ("saturation", "sigmoid"):
        pivot = geometric_mean_pivot(docs, feature_col)
    scored = docs.where(F.col(feature_col).isNotNull()).select(
        F.col(doc_id_col).alias("doc_id"),
        rank_feature_score(
            F.col(feature_col), function, pivot, exponent, scaling, boost
        ).alias("score"),
    )
    return _ranked(scored, k)


def bool_rank_feature_topk(
    index: LogicalIndex,
    docs: DataFrame,
    query: str,
    feature_col: str,
    function: str = "saturation",
    pivot: float | None = None,
    boost: float = 1.0,
    k: int = 10,
    analyzer: str = "simple_code",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """The idiomatic ES use: ``bool { must: match(query), should:
    rank_feature }`` — BM25 score plus the feature boost, over the
    docs that match the text query."""
    from ..analyzer.chain import get_analyzer

    if pivot is None and function in ("saturation", "sigmoid"):
        pivot = geometric_mean_pivot(docs, feature_col)
    terms = get_analyzer(analyzer).tokenize(query)
    feats = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        rank_feature_score(
            F.col(feature_col), function, pivot, boost=boost
        ).alias("feat"),
    )
    scored = (
        _bm25_scores(index, terms)
        .join(feats, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("score") + F.coalesce(F.col("feat"), F.lit(0.0)))
            .alias("score"),
        )
    )
    return _ranked(scored, k)


# --- distance_feature -------------------------------------------------------

def distance_feature_score(
    value: Column, origin: float, pivot: float, boost: float = 1.0
) -> Column:
    """boost * pivot / (pivot + |value - origin|); for date fields pass
    ``value`` as epoch seconds and origin/pivot in seconds."""
    dist = F.abs(value.cast("double") - F.lit(float(origin)))
    return F.lit(float(boost)) * F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)


def distance_feature_topk(
    df: DataFrame,
    value: Column,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    scored = df.where(value.isNotNull()).select(
        F.col(doc_id_col).alias("doc_id"),
        distance_feature_score(value, origin, pivot, boost).alias("score"),
    )
    return _ranked(scored, k)


# --- pinned -----------------------------------------------------------------

def pinned_topk(
    index: LogicalIndex,
    query: str,
    pinned_ids: list[int],
    k: int = 10,
    analyzer: str = "simple_code",
    corpus_ids: DataFrame | None = None,
) -> DataFrame:
    """ES ``pinned`` query: ``pinned_ids`` rank first in list order
    (only ids that exist in the index — checked against the postings'
    doc set, or ``corpus_ids`` if given), then the organic BM25
    results with pinned ids removed.  Organic ``score`` passes
    through; pinned rows carry score NULL (ES synthesizes huge
    constant scores there — the rank is the contract, not the
    sentinel float).

    Plan: one postings scan for the organic side; the pinned list is
    a literal ``isin`` (tiny, driver-side).
    """
    from ..analyzer.chain import get_analyzer

    spark = index.postings.sparkSession
    terms = get_analyzer(analyzer).tokenize(query)
    existing = (corpus_ids if corpus_ids is not None
                else index.postings.select("doc_id").distinct())
    pins = spark.createDataFrame(
        [(int(d), i) for i, d in enumerate(pinned_ids)],
        "doc_id bigint, pin_order int",
    ).join(F.broadcast(existing.select("doc_id")), "doc_id")

    organic = (
        _bm25_scores(index, terms)
        .where(~F.col("doc_id").isin([int(d) for d in pinned_ids]))
        .select(
            "doc_id", F.lit(False).alias("pinned"),
            F.lit(None).cast("int").alias("pin_order"), "score",
        )
    )
    pinned = pins.select(
        "doc_id", F.lit(True).alias("pinned"), "pin_order",
        F.lit(None).cast("double").alias("score"),
    )
    w = Window.orderBy(
        F.desc("pinned"),
        F.asc_nulls_last("pin_order"),
        F.desc_nulls_last(F.round("score", 9)),
        F.asc("doc_id"),
    )
    return (
        pinned.unionByName(organic)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("rank").cast("bigint").alias("rank"),
                "doc_id", "pinned", "score")
    )


# --- script_score -----------------------------------------------------------

def script_score_topk(
    index: LogicalIndex,
    query: str,
    features: DataFrame,
    script,
    k: int = 10,
    analyzer: str = "simple_code",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """ES ``script_score``: replace the match query's BM25 ``_score``
    with ``script(_score)``.  ``script`` is a callable
    ``(score_col) -> Column``; doc fields from ``features`` are in
    scope as ``F.col("f_<name>")`` (the Painless
    ``doc['name'].value`` analog)."""
    from ..analyzer.chain import get_analyzer

    terms = get_analyzer(analyzer).tokenize(query)
    feats = features.select(
        F.col(doc_id_col).alias("doc_id"),
        *[F.col(c).alias(f"f_{c}") for c in features.columns
          if c != doc_id_col],
    )
    scored = (
        _bm25_scores(index, terms)
        .join(feats, "doc_id", "left")
        .select("doc_id", script(F.col("score")).alias("score"))
    )
    return _ranked(scored, k)


# --- combined_fields --------------------------------------------------------

def combined_index(
    field_indexes: dict[str, LogicalIndex],
    weights: dict[str, float] | None = None,
) -> LogicalIndex:
    """Merge per-field logical indexes into ONE synthetic-field index
    (the combined_fields spec in the module doc).  tf/dl are weighted
    sums; df is containment in any field; corpus stats recomputed on
    the merged relation."""
    weights = weights or {}
    parts = []
    for field, idx in sorted(field_indexes.items()):
        w = float(weights.get(field, 1.0))
        parts.append(
            idx.postings.select(
                "doc_id", "term", (F.col("tf") * F.lit(w)).alias("tf")
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # one shuffle: merge per-(doc, term) across fields; dl'(d) must be
    # the weighted total length of the doc, not just fields where the
    # term occurs, so rebuild it from per-(doc, field) lengths.
    dls = None
    for field, idx in sorted(field_indexes.items()):
        w = float(weights.get(field, 1.0))
        d = (
            idx.postings.groupBy("doc_id")
            .agg(F.first("dl").alias("f_dl"))
            .select("doc_id", (F.col("f_dl") * F.lit(w)).alias("dl_part"))
        )
        dls = d if dls is None else dls.unionByName(d)
    dl = dls.groupBy("doc_id").agg(F.sum("dl_part").alias("dl"))
    merged = (
        u.groupBy("doc_id", "term")
        .agg(F.sum("tf").alias("tf"))
        .join(dl, "doc_id")
        .select("doc_id", "term", "tf", "dl")
    )
    term_stats = merged.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )
    return LogicalIndex(merged, term_stats, dl)


def combined_fields_topk(
    field_indexes: dict[str, LogicalIndex],
    query: str,
    weights: dict[str, float] | None = None,
    k: int = 10,
    analyzer: str = "simple_code",
) -> DataFrame:
    """ES ``combined_fields``: term-centric BM25 over the merged
    synthetic field (vs ``multi_match`` ``cross_fields``' field-centric
    blending — different arithmetic, both supported)."""
    from ..analyzer.chain import get_analyzer

    idx = combined_index(field_indexes, weights)
    terms = get_analyzer(analyzer).tokenize(query)
    return _ranked(_bm25_scores(idx, terms), k)
