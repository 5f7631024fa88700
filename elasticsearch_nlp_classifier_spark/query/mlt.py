"""More-like-this (ES ``more_like_this`` query) + prefix/wildcard
ranked queries + did-you-mean suggestions — the term-expansion query
family, all funneling into the shared block-max WAND core.

ES surface being re-expressed (all public API semantics):

- ``more_like_this``: pick the source doc's most interesting terms
  (tf·idf, capped at ``max_query_terms``), query with them, exclude
  the source doc itself.
- ``prefix`` / ``wildcard``: expand the pattern against the term
  dictionary (Zipf-bounded), score the expansion set.
- ``suggest`` (term suggester): vocabulary candidates ranked by
  (edit distance ASC, doc freq DESC, term ASC).

Deterministic contracts (same arithmetic available to the DuckDB
oracle): tf·idf uses the index's BM25 idf ``ln(1+(N-df+0.5)/(df+0.5))``
and raw tf; every cap orders by an explicit total tiebreak.

Scale shape: expansions probe only the term_stats table (pushdown
``startswith``/length-band filters); scoring is the standard WAND pass.
MLT reads the source docs' postings via ONE pruned block scan (the
same partition-pruning route as a query).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.blocks import PhysicalIndex
from .wand import RESULT_SCHEMA, topk_from_pairs


def _del_kw(index: PhysicalIndex, respect: bool) -> dict:
    """Tombstones in whichever shape fits the driver cap — closure
    array (fast numpy mask) or anti-join DataFrame (over-cap fallback);
    see `wand._tombstones`."""
    from .wand import _tombstones

    arr, df = _tombstones(index, respect)
    return {"deleted": arr, "deleted_df": df}


def prefix_topk(
    index: PhysicalIndex,
    prefix: str,
    k: int = 10,
    max_expansions: int = 50,
    query_id: int = 0,
    respect_deletes: bool = True,
) -> DataFrame:
    """BM25 top-k for a prefix query: all indexed terms starting with
    ``prefix`` (capped ``max_expansions`` by term ASC — Lucene's
    dictionary order), scored with their own IDFs."""
    rows = (
        index.term_stats.where(F.col("term").startswith(prefix))
        .select("term").orderBy("term").limit(max_expansions).collect()
    )
    pairs = [(query_id, r["term"]) for r in rows]
    return topk_from_pairs(
        index, pairs, {query_id: k},
        **_del_kw(index, respect_deletes),
    )


def wildcard_topk(
    index: PhysicalIndex,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
    query_id: int = 0,
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene wildcard query: ``*`` = any run, ``?`` = one char.  The
    pattern compiles to an anchored Java regex evaluated over the term
    dictionary (never over postings)."""
    rx = "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else
        c if c.isalnum() else "\\" + c
        for c in pattern
    ) + "$"
    rows = (
        index.term_stats.where(F.col("term").rlike(rx))
        .select("term").orderBy("term").limit(max_expansions).collect()
    )
    pairs = [(query_id, r["term"]) for r in rows]
    return topk_from_pairs(
        index, pairs, {query_id: k},
        **_del_kw(index, respect_deletes),
    )


def regexp_topk(
    index: PhysicalIndex,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
    query_id: int = 0,
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene/ES ``regexp`` query: the pattern (implicitly anchored at
    both ends, per Lucene semantics) is evaluated over the term
    dictionary only — never over postings — and the expansion set
    (capped ``max_expansions`` by term ASC) is scored through the
    shared WAND core with each term's own IDF.

    Scale shape: identical to ``prefix``/``wildcard`` — the dictionary
    probe is a filter over the (vocabulary-sized) term_stats table, and
    everything after it is a standard pruned block scan."""
    rx = "^(?:" + pattern + ")$"
    rows = (
        index.term_stats.where(F.col("term").rlike(rx))
        .select("term").orderBy("term").limit(max_expansions).collect()
    )
    pairs = [(query_id, r["term"]) for r in rows]
    return topk_from_pairs(
        index, pairs, {query_id: k},
        **_del_kw(index, respect_deletes),
    )


def match_bool_prefix_topk(
    index: PhysicalIndex,
    query: str,
    k: int = 10,
    max_expansions: int = 50,
    analyzer: str = "code",
    query_id: int = 0,
    respect_deletes: bool = True,
) -> DataFrame:
    """ES ``match_bool_prefix``: the analyzed query becomes a bool
    should of term queries, except the LAST token which is a prefix
    query (dictionary expansion, term-ASC cap — same rewrite as
    :func:`prefix_topk`).  Unlike ``match_phrase_prefix`` the tokens
    may match anywhere, in any order — it is pure OR scoring, so it
    funnels straight into the shared WAND core with each expanded
    term's own IDF.

    Scale shape: one term_stats pushdown probe for the expansion +
    one pruned block scan."""
    from ..analyzer.chain import get_analyzer

    toks = get_analyzer(analyzer).tokenize(query)
    if not toks:
        return index.term_stats.sparkSession.createDataFrame(
            [], RESULT_SCHEMA
        )
    *full, last = toks
    rows = (
        index.term_stats.where(F.col("term").startswith(last))
        .select("term").orderBy("term").limit(max_expansions).collect()
    )
    terms = sorted(set(full) | {r["term"] for r in rows})
    pairs = [(query_id, t) for t in terms]
    return topk_from_pairs(
        index, pairs, {query_id: k},
        **_del_kw(index, respect_deletes),
    )


def completion_suggest(
    index: PhysicalIndex,
    prefix: str,
    n: int = 5,
) -> DataFrame:
    """ES completion suggester over the indexed vocabulary: terms
    starting with ``prefix``, ranked by weight DESC then term ASC.

    ES's completion field stores explicit per-suggestion weights in an
    FST; with the index itself as the suggestion source, document
    frequency is the natural weight (the same default ES applies when
    suggestions are derived from indexed terms).  The probe is a
    pushdown ``startswith`` filter on the term dictionary — vocabulary-
    sized, never postings-sized — so at 100 TB it touches only
    term_stats."""
    return (
        index.term_stats.where(F.col("term").startswith(prefix))
        .select("term", F.col("df").cast("bigint").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("term"))
        .limit(n)
    )


def suggest_terms(
    index: PhysicalIndex,
    term: str,
    n: int = 5,
    max_edits: int = 2,
) -> DataFrame:
    """Did-you-mean: (term, dist, df) candidates within ``max_edits``,
    ranked (dist ASC, df DESC, term ASC) — the ES term suggester's
    default sort."""
    t = F.col("term")
    d = F.levenshtein(t, F.lit(term))
    return (
        index.term_stats
        .where(
            (F.abs(F.length(t) - F.lit(len(term))) <= max_edits)
            & (d <= max_edits)
        )
        .select("term", d.alias("dist"), "df")
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(n)
    )


def mlt_terms(
    index: PhysicalIndex,
    doc_id: int,
    max_query_terms: int = 25,
    min_doc_freq: int = 1,
) -> list[str]:
    """The source doc's most interesting terms: top ``max_query_terms``
    by (tf·idf DESC, term ASC), df >= min_doc_freq.  One pruned
    postings probe (decode only the source doc's rows) + the in-driver
    idf arithmetic the oracle can replicate."""
    stats = index.corpus_stats
    n_docs = stats["doc_count"]
    rows = (
        index.logical_postings(
            blocks_where=(F.col("first_doc") <= doc_id)
            & (F.col("last_doc") >= doc_id)
        )
        .where(F.col("doc_id") == doc_id)
        .join(F.broadcast(index.term_stats.select("term", "df")), "term")
        .where(F.col("df") >= min_doc_freq)
        .select("term", "tf", "df")
        .collect()
    )
    scored = sorted(
        (
            (
                # round-9 before ordering: the oracle recomputes this
                # score in another engine; a 1-ulp ln() difference must
                # not flip the max_query_terms selection boundary
                -round(
                    r["tf"]
                    * math.log(1.0 + (n_docs - r["df"] + 0.5)
                               / (r["df"] + 0.5)),
                    9,
                ),
                r["term"],
            )
            for r in rows
        ),
    )
    return [t for _, t in scored[:max_query_terms]]


def more_like_this(
    index: PhysicalIndex,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 25,
    query_id: int = 0,
    respect_deletes: bool = True,
    include_self: bool = False,
) -> DataFrame:
    """(query_id, rank, doc_id, score): docs most similar to the
    source doc under BM25 over its ``max_query_terms`` most
    interesting terms.  The source doc is excluded (ES default) by
    re-ranking the k+1 WAND results — exact, since dropping one doc
    can promote at most one.
    """
    terms = mlt_terms(index, doc_id, max_query_terms)
    pairs = [(query_id, t) for t in terms]
    out = topk_from_pairs(
        index, pairs, {query_id: k if include_self else k + 1},
        **_del_kw(index, respect_deletes),
    )
    if include_self:
        return out
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    return (
        out.where(F.col("doc_id") != doc_id)
        .withColumn("rank2", F.row_number().over(w))
        .where(F.col("rank2") <= k)
        .select("query_id", F.col("rank2").cast("int").alias("rank"),
                "doc_id", "score")
    )


def search_as_you_type_topk(
    index: PhysicalIndex,
    shingle2_index: PhysicalIndex,
    query: str,
    k: int = 10,
    boost_2gram: float = 1.0,
    analyzer: str = "code",
    shingle_analyzer: str = "simple_code_shingle2",
    window: int = 100,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``search_as_you_type`` field queried with the default
    ``multi_match`` ``bool_prefix`` over the base field and its
    ``._2gram`` shingle subfield: per-field score = bool_prefix BM25
    (complete tokens/shingles as terms, trailing one as a dictionary
    prefix expansion), combined ``most_fields``-style as
    ``base + boost_2gram · 2gram``.  In-order progress ("data val")
    produces trailing 2-gram shingles ("data val") that only in-order
    documents can prefix-match — that is the whole point of the shingle
    subfields, reproduced exactly.

    The shingle subfield is just an index built with the
    ``simple_code_shingle2`` analyzer (JVM expression chain —
    ``analyzer/filters.py``); both per-field scorers are the existing
    :func:`match_bool_prefix_topk`, so the plan is two pruned block
    scans + one broadcast-sized score join.  Like ``rrf``/``rescore``,
    the combination works on bounded per-field frames (``window``
    deepest hits each) — document rather than pretend otherwise."""
    from pyspark.sql.window import Window

    base = match_bool_prefix_topk(
        index, query, k=window, max_expansions=max_expansions,
        analyzer=analyzer,
    ).select("doc_id", F.col("score").alias("s_base"))
    sh = match_bool_prefix_topk(
        shingle2_index, query, k=window, max_expansions=max_expansions,
        analyzer=shingle_analyzer,
    ).select("doc_id", F.col("score").alias("s_2gram"))
    combined = (
        base.join(sh, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce("s_base", F.lit(0.0))
                + F.lit(float(boost_2gram))
                * F.coalesce("s_2gram", F.lit(0.0))
            ).alias("score"),
        )
    )
    w = Window.orderBy(F.round("score", 9).desc(), F.asc("doc_id"))
    return (
        combined.orderBy(F.round("score", 9).desc(), F.asc("doc_id"))
        .limit(k)
        .select(
            F.lit(0).alias("query_id"),
            F.row_number().over(w).alias("rank"),
            "doc_id",
            "score",
        )
    )
