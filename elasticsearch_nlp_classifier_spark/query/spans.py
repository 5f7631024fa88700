"""Lucene span-query family + the modern ``intervals`` query, over the
positional block index.

The reference's ES cluster exposes the full Lucene span surface
(`utils/elasticsearch/ESClient.java` hands users a stock
`RestHighLevelClient`; `span_near` already lives in ``phrase.py``).
This module adds the remaining core combinators:

- ``span_or``      — union of term spans (SpanOrQuery over SpanTerm
  clauses): every occurrence of any clause term matches.
- ``span_first``   — SpanFirstQuery: spans ending within the first
  ``end`` positions of the field.
- ``span_not``     — SpanNotQuery with ``pre``/``post``: occurrences of
  the include term with no exclude-term occurrence in
  ``[p - pre, p + post]``.
- ``intervals_match`` — the ES ``intervals`` query's ``match`` rule
  (``max_gaps`` + ``ordered``): all terms within a window containing
  at most ``max_gaps`` extra positions; ordered mode additionally
  requires query order (and coincides with ``span_near`` semantics,
  as in Lucene).

Shared shape with ``phrase.py``: per-term positional decode is
partition-pruned + row-group-skipped (only the query terms' blocks are
ever read); per-doc candidate assembly is a rarest-first ``doc_id``
join whose sides are single-term postings; all position logic runs as
JVM higher-order array expressions — no Python in the matching path.
At 100 TB the cost is bounded by Σ df(term), never the corpus.

Unordered ``intervals_match`` semantics (documented precisely because
Lucene's minimal-interval algebra has subtle overlap rules): a match
anchors at a position ``p`` holding any query term; the window is
``[p, max_i next_i(p)]`` where ``next_i(p)`` is term *i*'s earliest
occurrence at-or-after ``p``; the anchor is valid when every
``next_i`` exists and the window holds at most ``max_gaps`` non-query
positions (``width − k ≤ max_gaps``).  ``n_matches`` counts valid
anchors.  For distinct-term queries this decides "do all terms co-occur
within the gap budget" exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.blocks import PhysicalIndex
from ..index.deletes import live_docs
from .phrase import positional_postings

__all__ = [
    "span_or", "span_first", "span_not", "intervals_match",
    "span_containing", "span_within", "span_multi",
]

_EMPTY = "doc_id bigint, n_matches bigint"


def _analyzed_terms(text: str, analyzer: str) -> list[str]:
    from ..analyzer.chain import get_analyzer

    return get_analyzer(analyzer).tokenize(text)


def span_or(
    index: PhysicalIndex,
    terms: list[str],
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene ``SpanOrQuery`` over term clauses: ``(doc_id, n_matches)``
    where ``n_matches`` totals the occurrences of *any* clause term
    (positions are unique per token slot, so the span union is the
    occurrence sum).  One pruned decode + one hash aggregate."""
    slots = sorted({
        t for raw in terms for t in _analyzed_terms(raw, analyzer)
    })
    spark = index.spark
    if not slots:
        return spark.createDataFrame([], _EMPTY)
    pp = positional_postings(index, slots)
    res = (
        pp.groupBy("doc_id")
        .agg(F.sum(F.size("positions")).cast("bigint").alias("n_matches"))
    )
    return live_docs(index, res) if respect_deletes else res


def span_first(
    index: PhysicalIndex,
    term: str,
    end: int,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene ``SpanFirstQuery``: occurrences of ``term`` whose span
    ends within the first ``end`` positions — a single-token span at
    position ``p`` (0-based) has end ``p + 1``, so ``p + 1 <= end``.
    The position test is one JVM array filter over the pruned decode."""
    slots = _analyzed_terms(term, analyzer)
    spark = index.spark
    if len(slots) != 1:
        raise ValueError(
            f"span_first takes a single analyzed term, got {slots!r}"
        )
    pp = positional_postings(index, slots)
    hits = F.size(
        F.filter(F.col("positions"), lambda p: p + F.lit(1) <= F.lit(end))
    ).cast("bigint")
    res = (
        pp.select("doc_id", hits.alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )
    return live_docs(index, res) if respect_deletes else res


def span_not(
    index: PhysicalIndex,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene ``SpanNotQuery``: occurrences of ``include`` with no
    ``exclude`` occurrence within ``pre`` positions before or ``post``
    after (``pre = post = 0`` rejects only same-position overlap,
    which single-token slots make impossible — use ``pre/post >= 1``
    for adjacency exclusion, as Lucene users do).

    Plan: both terms' positions decode from pruned blocks; the include
    side LEFT-joins the exclude side on ``doc_id`` (both sides are
    single-term postings, so the join is df-sized) and the rejection
    window test is one JVM ``filter``/``exists`` expression."""
    inc = _analyzed_terms(include, analyzer)
    exc = _analyzed_terms(exclude, analyzer)
    spark = index.spark
    if len(inc) != 1 or len(exc) != 1:
        raise ValueError("span_not takes single analyzed terms")
    if inc[0] == exc[0]:
        return spark.createDataFrame([], _EMPTY)
    pp = positional_postings(index, sorted({inc[0], exc[0]}))
    pp = pp.cache()
    inc_df = pp.where(F.col("term") == inc[0]).select(
        "doc_id", F.col("positions").alias("pos_inc")
    )
    exc_df = pp.where(F.col("term") == exc[0]).select(
        "doc_id", F.col("positions").alias("pos_exc")
    )
    out = inc_df.join(exc_df, "doc_id", "left")

    def _clear(p):
        return ~F.exists(
            F.coalesce(F.col("pos_exc"), F.array()),
            lambda q: (q >= p - F.lit(pre)) & (q <= p + F.lit(post)),
        )

    hits = F.size(F.filter(F.col("pos_inc"), _clear)).cast("bigint")
    res = (
        out.select("doc_id", hits.alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )
    return live_docs(index, res) if respect_deletes else res


def intervals_match(
    index: PhysicalIndex,
    query: str,
    max_gaps: int = 0,
    ordered: bool = False,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """ES ``intervals`` query, ``match`` rule: all analyzed terms of
    ``query`` within a window containing at most ``max_gaps`` extra
    positions; ``ordered=True`` additionally requires query order.

    Ordered mode is exactly Lucene's span_near(slop=max_gaps) — it
    delegates to :func:`phrase.span_near`.  Unordered mode anchors at
    every query-term occurrence ``p`` and checks that each term's
    earliest occurrence at-or-after ``p`` exists within the gap budget
    (module docstring has the precise semantics).  Duplicate analyzed
    terms are rejected (Lucene's interval algebra differs there).
    """
    from .phrase import span_near

    if ordered:
        return span_near(
            index, query, slop=max_gaps, analyzer=analyzer,
            respect_deletes=respect_deletes,
        )
    slots = _analyzed_terms(query, analyzer)
    spark = index.spark
    if not slots:
        return spark.createDataFrame([], _EMPTY)
    if len(set(slots)) != len(slots):
        raise ValueError("intervals_match requires distinct analyzed terms")
    pp = positional_postings(index, slots)
    if len(slots) > 1:
        pp = pp.cache()

    dfs = {
        r["term"]: int(r["cnt"])
        for r in pp.groupBy("term").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    if any(t not in dfs for t in slots):
        return spark.createDataFrame([], _EMPTY)

    order = sorted(range(len(slots)), key=lambda i: dfs[slots[i]])
    out = pp.where(F.col("term") == slots[order[0]]).select(
        "doc_id", F.col("positions").alias(f"pos_{order[0]}")
    )
    for i in order[1:]:
        side = pp.where(F.col("term") == slots[i]).select(
            "doc_id", F.col("positions").alias(f"pos_{i}")
        )
        out = out.join(side, "doc_id")

    if len(slots) == 1:
        res = out.select(
            "doc_id",
            F.size(f"pos_{order[0]}").cast("bigint").alias("n_matches"),
        )
        return live_docs(index, res) if respect_deletes else res

    anchors = reduce(
        F.array_union, [F.col(f"pos_{i}") for i in range(1, len(slots))],
        F.col("pos_0"),
    )

    def _next(i, p):
        return F.array_min(F.filter(F.col(f"pos_{i}"), lambda q: q >= p))

    k = len(slots)

    def _valid(p):
        nxt = [_next(i, p) for i in range(k)]
        all_found = reduce(lambda a, c: a & c.isNotNull(),
                           nxt, F.lit(True))
        width_ok = (
            F.greatest(*nxt) - p - F.lit(k - 1) <= F.lit(max_gaps)
        )
        return all_found & width_ok

    res = (
        out.withColumn(
            "n_matches",
            F.size(F.filter(anchors, _valid)).cast("bigint"),
        )
        .where(F.col("n_matches") > 0)
        .select("doc_id", "n_matches")
    )
    return live_docs(index, res) if respect_deletes else res


def _big_span_pairs(t1: str, t2: str, slop: int):
    """Column factory for the enumerated 'big' spans of an ordered
    two-term window (SpanNearQuery(t1, t2, slop, inOrder=true) as the
    outer query of containing/within): for each anchor position ``p``
    of ``t1``, the span is ``[p, q]`` with ``q`` = ``t2``'s earliest
    position strictly after ``p`` — greedy-minimal like Lucene's span
    iterator — kept when ``q - p - 1 <= slop``.  Expects columns
    ``pos_a`` (t1 positions) and ``pos_b`` (t2 positions); returns the
    array of valid anchors ``p`` (one span per anchor)."""
    def q_of(p):
        return F.array_min(F.filter(F.col("pos_b"), lambda q: q > p))

    return F.filter(
        F.col("pos_a"),
        lambda p: q_of(p).isNotNull()
        & (q_of(p) - p - F.lit(1) <= F.lit(slop)),
    ), q_of


def _two_term_frame(index, t1, t2, little):
    """(doc_id, pos_a, pos_b, pos_l) for docs holding all three terms —
    each side a single-term pruned positional decode, joins df-bounded."""
    terms = sorted({t1, t2, little})
    pp = positional_postings(index, terms).cache()
    out = (
        pp.where(F.col("term") == t1)
        .select("doc_id", F.col("positions").alias("pos_a"))
        .join(
            pp.where(F.col("term") == t2)
            .select("doc_id", F.col("positions").alias("pos_b")),
            "doc_id",
        )
        .join(
            pp.where(F.col("term") == little)
            .select("doc_id", F.col("positions").alias("pos_l")),
            "doc_id",
        )
    )
    return out


def span_containing(
    index: PhysicalIndex,
    big: tuple[str, str, int],
    little: str,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene ``SpanContainingQuery``: spans of ``big`` that contain a
    span of ``little``.  ``big`` is an ordered two-term window
    ``(t1, t2, slop)`` — its spans enumerate greedy-minimally per
    ``t1`` anchor (see ``_big_span_pairs``); ``little`` is a term.
    ``n_matches`` counts big spans ``[p, q]`` holding a ``little``
    occurrence ``r`` with ``p <= r <= q``.

    Scale shape: three single-term pruned decodes + two df-bounded
    doc_id joins; containment is one JVM array expression.  Reference
    surface: `utils/elasticsearch/ESClient.java` exposes
    `QueryBuilders.spanContainingQuery`."""
    t1, t2, slop = big
    (a1,) = _analyzed_terms(t1, analyzer) or [None]
    (a2,) = _analyzed_terms(t2, analyzer) or [None]
    (al,) = _analyzed_terms(little, analyzer) or [None]
    spark = index.spark
    if not all([a1, a2, al]) or a1 == a2:
        return spark.createDataFrame([], _EMPTY)
    frame = _two_term_frame(index, a1, a2, al)
    anchors, q_of = _big_span_pairs(a1, a2, slop)

    def contains_little(p):
        return F.exists(
            F.col("pos_l"), lambda r: (r >= p) & (r <= q_of(p))
        )

    res = (
        frame.withColumn(
            "n_matches",
            F.size(F.filter(anchors, contains_little)).cast("bigint"),
        )
        .where(F.col("n_matches") > 0)
        .select("doc_id", "n_matches")
    )
    return live_docs(index, res) if respect_deletes else res


def span_within(
    index: PhysicalIndex,
    little: str,
    big: tuple[str, str, int],
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene ``SpanWithinQuery`` — the dual of ``span_containing``:
    occurrences of ``little`` that lie inside some ``big`` span.
    ``n_matches`` counts little positions ``r`` for which a big span
    ``[p, q]`` exists with ``p <= r <= q``.  Same plan shape as
    ``span_containing``."""
    t1, t2, slop = big
    (a1,) = _analyzed_terms(t1, analyzer) or [None]
    (a2,) = _analyzed_terms(t2, analyzer) or [None]
    (al,) = _analyzed_terms(little, analyzer) or [None]
    spark = index.spark
    if not all([a1, a2, al]) or a1 == a2:
        return spark.createDataFrame([], _EMPTY)
    frame = _two_term_frame(index, a1, a2, al)
    anchors, q_of = _big_span_pairs(a1, a2, slop)

    def inside_some_big(r):
        return F.exists(
            anchors, lambda p: (r >= p) & (r <= q_of(p))
        )

    res = (
        frame.withColumn(
            "n_matches",
            F.size(F.filter(F.col("pos_l"), inside_some_big)).cast("bigint"),
        )
        .where(F.col("n_matches") > 0)
        .select("doc_id", "n_matches")
    )
    return live_docs(index, res) if respect_deletes else res


def span_multi(
    index: PhysicalIndex,
    pattern: str,
    max_expansions: int = 50,
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene ``SpanMultiTermQueryWrapper`` (ES ``span_multi``): a
    multi-term query — prefix (``pre*``) or wildcard (``*``/``?``) —
    rewritten to the union of its dictionary expansions' term spans
    (Lucene's SpanOr rewrite).  The pattern probes the vocabulary-sized
    ``term_stats`` table only (never postings), capped term-ASC at
    ``max_expansions`` like the dictionary-expansion queries in
    ``mlt.py``; the union is then one pruned positional decode + hash
    aggregate, identical to :func:`span_or`."""
    spark = index.spark
    if pattern.endswith("*") and not any(c in pattern[:-1] for c in "*?"):
        probe = F.col("term").startswith(pattern[:-1].lower())
    else:
        rx = "^" + "".join(
            ".*" if c == "*" else "." if c == "?" else
            c if c.isalnum() else "\\" + c
            for c in pattern.lower()
        ) + "$"
        probe = F.col("term").rlike(rx)
    rows = (
        index.term_stats.where(probe)
        .select("term").orderBy("term").limit(max_expansions).collect()
    )
    slots = [r["term"] for r in rows]
    if not slots:
        return spark.createDataFrame([], _EMPTY)
    pp = positional_postings(index, slots)
    res = (
        pp.groupBy("doc_id")
        .agg(F.sum(F.size("positions")).cast("bigint").alias("n_matches"))
    )
    return live_docs(index, res) if respect_deletes else res
