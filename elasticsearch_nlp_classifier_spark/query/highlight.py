"""ES-style highlighting: snippet extraction with match markup.

The ES ``highlight`` API returns, per hit, text fragments with query
matches wrapped in ``<em>`` tags.  This re-expresses the common form
(unified highlighter, one fragment, analyzed term matching) as pure
JVM expressions — ``lower``/``locate``/``substring``/
``regexp_replace`` inside whole-stage codegen, no Python in the row
path, and every step has a DuckDB twin for the oracle.

Semantics:

1. The query is analyzed with the same chain as the index (so
   highlighting agrees with what matched).
2. Fragment = ``fragment_size`` chars of the original text starting
   ``lead`` chars before the first term occurrence
   (case-insensitive; ES centers fragments on match boundaries the
   same way).
3. Every whole-word, case-insensitive occurrence of any query term
   inside the fragment is wrapped in ``pre_tag``/``post_tag``.

Scale shape: a narrow map over the hits — no shuffle, no join; in a
real query pipeline this runs after the top-k cut, so it touches k
rows, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["highlight", "highlight_from_offsets"]


def highlight(
    hits: DataFrame,
    query: str,
    text_col: str = "text",
    analyzer: str = "code",
    fragment_size: int = 150,
    lead: int = 40,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> DataFrame:
    """Add a ``highlight`` column to ``hits``: one fragment of
    ``text_col`` around the first query-term match, all term
    occurrences wrapped in tags.  Rows whose text contains no query
    term get a null highlight (ES omits the highlight field there).
    """
    from ..analyzer.chain import get_analyzer

    terms = sorted(set(get_analyzer(analyzer).tokenize(query)))
    if not terms:
        return hits.withColumn("highlight", F.lit(None).cast("string"))
    for t in terms:
        if not t.isalnum():
            raise ValueError(f"non-alphanumeric analyzed term {t!r}")

    text = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(text)
    # first case-insensitive occurrence across all terms (locate is
    # 1-based; 0 = not found)
    positions = [F.locate(t, low) for t in terms]
    first = F.least(*[F.when(p > 0, p) for p in positions]) \
        if len(positions) > 1 else F.when(positions[0] > 0, positions[0])
    start = F.greatest(F.lit(1), first - F.lit(lead))
    fragment = F.substring(text, start, fragment_size)
    pattern = "(?i)\\b(" + "|".join(terms) + ")\\b"
    marked = F.regexp_replace(fragment, pattern,
                              pre_tag + "$1" + post_tag)
    return hits.withColumn(
        "highlight", F.when(first.isNotNull(), marked)
    )


def _merge_spans(spans):
    """Collapse a SORTED ``array<struct<s,e>>`` to disjoint intervals.

    Multi-term queries against shingle/edge_ngram analyzers surface
    several grams ('b', 'be', 'bet', 'beta') that carry the SAME or
    nested source-token span; folding those raw re-wraps the token once
    per gram ('<em>beta</em><em>beta</em>…').  Overlapping / nested
    intervals merge (strict ``s < prev.e`` — spans merely ADJACENT at a
    token boundary stay separate, matching ES tagging each matched
    token individually); exact duplicates are removed upstream by
    ``array_distinct``.  Pure JVM fold, O(spans) per hit."""
    empty = F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")

    def step(acc, sp):
        last = F.get(acc, F.size(acc) - F.lit(1))  # null when acc empty
        return F.when(
            last.isNotNull() & (sp["s"] < last["e"]),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                F.array(F.struct(
                    last["s"].alias("s"),
                    F.greatest(last["e"], sp["e"]).alias("e"),
                )),
            ),
        ).otherwise(F.concat(acc, F.array(F.struct(
            sp["s"].alias("s"), sp["e"].alias("e"),
        ))))

    return F.aggregate(spans, empty, step)


def highlight_from_offsets(
    index,
    hits: DataFrame,
    query: str,
    text_col: str = "text",
    analyzer: str = "code",
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> DataFrame:
    """Highlight from STORED char offsets — Lucene's fast-vector/
    postings highlighter, vs :func:`highlight`'s re-analyzing one.
    ``index`` must be built with ``with_offsets=True``
    (`index/build.tokenize_occurrence_postings`); markup positions come from
    the index payloads, never from re-tokenizing the text, so the
    marked spans are exactly the analyzed tokens that matched (a
    stemmed query term highlights the original surface form — the
    re-analyzing highlighter cannot do that).

    ES ``number_of_fragments: 0`` semantics: the ENTIRE field is
    returned with every match wrapped; rows with no match get a null
    ``highlight``.  Pure JVM: the span list is assembled by an
    ``aggregate`` over the (sorted) stored offsets — no Python in the
    row path; per-hit cost is O(text + matches), after the top-k cut.
    """
    from ..analyzer.chain import get_analyzer

    terms = sorted(set(get_analyzer(analyzer).tokenize(query)))
    if not terms:
        return hits.withColumn("highlight", F.lit(None).cast("string"))
    p = index.postings
    if "start_offsets" not in p.columns:
        raise ValueError(
            "highlight_from_offsets needs an offsets index "
            "(build_logical_index(with_offsets=True))"
        )
    # prune the postings scan to the hit docs FIRST (broadcast
    # semi-probe — hits are post-top-k, tiny), so the span agg is
    # bounded by hits × query terms; the result then broadcasts back
    # onto hits on the supported (right) side of the left join
    spans = (
        p.where(F.col("term").isin(terms))
        .join(F.broadcast(hits.select("doc_id").distinct()), "doc_id")
        .select(
            "doc_id",
            F.arrays_zip(
                F.col("start_offsets").alias("s"),
                F.col("end_offsets").alias("e"),
            ).alias("se"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(
            F.array_distinct(F.flatten(F.collect_list("se")))
        ).alias("spans_raw"))
        .select("doc_id", _merge_spans(F.col("spans_raw")).alias("spans"))
    )
    joined = hits.join(F.broadcast(spans), "doc_id", "left")
    text = F.coalesce(F.col(text_col), F.lit(""))
    # fold sorted (start, end) spans into the marked string: acc.out
    # carries text[0:acc.cur) already emitted; offsets are 0-based
    # end-exclusive, substring() is 1-based
    acc0 = F.struct(F.lit("").alias("out"),
                    F.lit(0).cast("bigint").alias("cur"))
    step = lambda acc, sp: F.struct(  # noqa: E731
        F.concat(
            acc["out"],
            F.substring(text, acc["cur"] + 1, sp["s"] - acc["cur"]),
            F.lit(pre_tag),
            F.substring(text, sp["s"] + 1, sp["e"] - sp["s"]),
            F.lit(post_tag),
        ).alias("out"),
        sp["e"].alias("cur"),
    )
    finish = lambda acc: F.concat(  # noqa: E731
        acc["out"], F.substring(text, acc["cur"] + 1, F.length(text))
    )
    marked = F.aggregate(F.col("spans"), acc0, step, finish)
    return joined.withColumn(
        "highlight",
        F.when(F.size("spans") > 0, marked),
    ).drop("spans")
