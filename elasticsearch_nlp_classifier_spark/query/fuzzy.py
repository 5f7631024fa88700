"""Fuzzy term matching — ES ``fuzziness`` semantics over the index
vocabulary.

ES's ``match`` with ``fuzziness`` (and Lucene's FuzzyQuery) rewrites a
query term into the set of indexed terms within edit distance ≤ n
(optionally sharing a literal prefix), then scores the expanded
multi-term query.  Same model here, batch-shaped.  Distance is
CLASSIC Levenshtein (the Spark/DuckDB built-in): a transposition
costs 2, where Lucene's default ``transpositions=true`` Damerau
variant charges 1 — documented divergence, same contract in the
engine and the oracle.

1. **Expansion probe**: ONE scan of the (small) ``term_stats`` table
   with a length-band prefilter (``abs(len(t) - len(q)) <= n`` — a
   necessary condition for edit distance ≤ n, pushed into the parquet
   scan) and an optional ``startswith(prefix)`` filter, then the exact
   ``levenshtein`` built-in.  The vocabulary is Zipf-bounded (millions
   of terms, not corpus-sized), so this probe is milliseconds.
2. **Scoring**: the expanded (query_id, term) pairs feed the identical
   block-max WAND core (`topk_from_pairs`) — each expansion scores
   with its OWN corpus IDF and contributions sum per doc.  This is the
   documented scoring contract (simpler than Lucene's blended-freq
   rewrite, fully reproducible in ANSI SQL → DuckDB oracle).

Scale shape: expansion cost ∝ vocabulary (bounded), scoring cost
identical to a multi-term WAND query with |expansions| terms.  ES caps
expansions at ``max_expansions`` (default 50) — same knob here, chosen
by ascending (distance, term) so the cap is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.blocks import PhysicalIndex
from .wand import RESULT_SCHEMA, topk_from_pairs


def fuzzy_expand(
    index: PhysicalIndex,
    term: str,
    max_edits: int = 1,
    prefix_length: int = 0,
    max_expansions: int = 50,
) -> list[str]:
    """Indexed terms within edit distance ``max_edits`` of ``term``,
    deterministically capped: ascending (distance, term), exact match
    always included first (distance 0)."""
    t = F.col("term")
    cond = (
        F.abs(F.length(t) - F.lit(len(term))) <= max_edits
    ) & (F.levenshtein(t, F.lit(term)) <= max_edits)
    if prefix_length > 0:
        cond = cond & t.startswith(term[:prefix_length])
    rows = (
        index.term_stats.where(cond)
        .select(
            "term", F.levenshtein(t, F.lit(term)).alias("dist")
        )
        .orderBy("dist", "term")
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def auto_edits(token: str, spec: str = "AUTO") -> int:
    """ES ``fuzziness: AUTO[:lo,hi]`` — allowed edits by token length:
    0 below ``lo`` chars, 1 in ``[lo, hi)``, 2 at ``hi``+ (ES defaults
    lo=3, hi=6)."""
    lo, hi = 3, 6
    if ":" in spec:
        lo, hi = (int(x) for x in spec.split(":", 1)[1].split(","))
    n = len(token)
    return 0 if n < lo else (1 if n < hi else 2)


def fuzzy_topk(
    index: PhysicalIndex,
    queries: "DataFrame | object",
    k: int = 10,
    max_edits: int | str = 1,
    prefix_length: int = 0,
    max_expansions: int = 50,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """(query_id, rank, doc_id, score): BM25 top-k where every analyzed
    query token is fuzzy-expanded against the vocabulary.

    ``max_edits`` is an int or ES's ``"AUTO"`` / ``"AUTO:lo,hi"``
    string — per-token allowance from the token's length
    (`auto_edits`), so short tokens stay exact while long ones tolerate
    typos, exactly the ES default users run with.

    One expansion probe for the whole batch (all tokens' length bands
    and distances in a single scan), then one WAND scoring pass.
    """
    from ..analyzer.chain import get_analyzer

    qp = queries.toPandas() if isinstance(queries, DataFrame) else queries
    an = get_analyzer(analyzer)
    tok_pairs = sorted({
        (int(qid), t)
        for qid, text in zip(qp["query_id"], qp["query_text"])
        for t in an.tokenize(text)
    })
    if not tok_pairs:
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    if isinstance(max_edits, str):
        if not max_edits.upper().startswith("AUTO"):
            raise ValueError(f"max_edits: int or 'AUTO[:lo,hi]', got "
                             f"{max_edits!r}")
        edits_of = {t: auto_edits(t, max_edits.upper())
                    for _, t in tok_pairs}
    else:
        edits_of = {t: int(max_edits) for _, t in tok_pairs}
    uniq_toks = sorted(edits_of)

    # one batch expansion probe: vocab × query-token distance table
    vocab = index.term_stats.select("term")
    qtok = index.spark.createDataFrame(
        [(t, edits_of[t]) for t in uniq_toks], "qtok string, edits int"
    )
    d = F.levenshtein(F.col("term"), F.col("qtok"))
    exp = (
        vocab.join(
            F.broadcast(qtok),
            (
                F.abs(F.length("term") - F.length("qtok"))
                <= F.col("edits")
            ) & (d <= F.col("edits"))
            & (
                F.lit(prefix_length <= 0)
                | (F.substring("term", 1, prefix_length)
                   == F.substring("qtok", 1, prefix_length))
            ),
        )
        .select("qtok", "term", d.alias("dist"))
        .collect()
    )
    by_tok: dict[str, list[tuple[int, str]]] = {}
    for r in exp:
        by_tok.setdefault(r["qtok"], []).append((r["dist"], r["term"]))
    pairs = sorted({
        (qid, term)
        for qid, tok in tok_pairs
        for _, term in sorted(by_tok.get(tok, []))[:max_expansions]
    })

    from .wand import _tombstones

    deleted, del_df = _tombstones(index, respect_deletes)
    ks = {qid: k for qid, _ in tok_pairs}
    return topk_from_pairs(index, pairs, ks,
                           deleted=deleted, deleted_df=del_df)
