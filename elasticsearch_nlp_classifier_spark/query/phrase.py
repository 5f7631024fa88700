"""Exact phrase matching over the positional block index.

The reference's term-vector contract carries per-token positions
(`TermVectorQuery.java:60-76`; fixture `TermVectorTokensTest.java`
position arrays), which is what gates phrase/proximity queries in
Lucene.  This module answers ``match_phrase`` against an index built
with ``with_positions=True``:

1. **Pruned decode** — identical candidate pruning to WAND: hive
   partition pruning on ``tb`` plus a pushed-down ``isin`` on ``term``;
   only the phrase terms' blocks are read, and positions are decoded in
   one vectorized pass per block (varbyte gaps, per-posting segment
   lengths = the block's tfs).
2. **Slot join** — one DataFrame per phrase slot (term occurrence
   positions per doc), chained inner joins on ``doc_id`` starting from
   the rarest term.  Each join side is a single term's postings, so
   join input sizes are df(term), never the corpus.
3. **Adjacency verify** — a JVM higher-order expression:
   ``exists(pos_0, p -> array_contains(pos_1, p+1) AND ...)`` — no
   Python in the matching hot path; ``n_matches`` = number of valid
   phrase start positions.

Scale shape: per-term decode is distributed (one task per pruned block
batch); the slot join shuffles only candidate doc rows.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.blocks import PhysicalIndex, term_bucket
from ..index.codec import segmented_delta_decode, vb_decode


def positional_postings(index: PhysicalIndex, terms: list[str]) -> DataFrame:
    """(term, doc_id, positions array<bigint>) for the given terms only —
    partition-pruned, row-group-skipped block scan + vectorized decode."""
    if not index.has_positions:
        raise ValueError(
            "index was built without positions "
            "(build_physical_index(..., with_positions=True))"
        )
    terms = sorted(set(terms))
    spark = index.spark
    if not terms:
        return spark.createDataFrame(
            [], "term string, doc_id bigint, positions array<bigint>"
        )
    tb_pdf = spark.createDataFrame(
        pd.DataFrame({"term": terms})
    ).select(term_bucket(F.col("term"), index.n_buckets).alias("tb")) \
        .toPandas()
    buckets = sorted(set(int(b) for b in tb_pdf["tb"]))
    blocks = (
        index.blocks.where(F.col("tb").isin(buckets))
        .where(F.col("term").isin(terms))
        .select("term", "n", "docs_vb", "tfs_vb", "pos_vb")
    )

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for r in pdf.itertuples():
                docs = segmented_delta_decode(
                    vb_decode(r.docs_vb).astype(np.int64), np.array([r.n])
                )
                tfs = vb_decode(r.tfs_vb).astype(np.int64)
                flat = segmented_delta_decode(
                    vb_decode(r.pos_vb).astype(np.int64), tfs
                )
                outs.append(pd.DataFrame({
                    "term": r.term,
                    "doc_id": docs,
                    "positions": np.split(flat, np.cumsum(tfs)[:-1]),
                }))
            yield pd.concat(outs, ignore_index=True)

    return blocks.mapInPandas(
        decode, "term string, doc_id bigint, positions array<bigint>"
    )


def match_phrase(
    index: PhysicalIndex,
    phrase: str,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """(doc_id, n_matches) — docs whose analyzed token stream contains
    the analyzed phrase as consecutive tokens; ``n_matches`` counts the
    valid start positions.  Single-token phrases degrade to a term
    match (n_matches = tf).  Tombstoned docs (``index/deletes.py``) are
    masked by a broadcast anti-join — phrase match is a filter, so the
    post-hoc mask is exact."""
    from ..analyzer.chain import get_analyzer
    from ..index.deletes import live_docs

    slots = get_analyzer(analyzer).tokenize(phrase)
    spark = index.spark
    if not slots:
        return spark.createDataFrame([], "doc_id bigint, n_matches bigint")

    pp = positional_postings(index, slots)
    if len(slots) > 1:
        pp = pp.cache()  # ≤ len(slots) filtered reads of the same decode

    # rarest-first join order: fewest candidate docs drive the chain
    dfs = {
        r["term"]: int(r["cnt"])
        for r in pp.groupBy("term").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    if any(t not in dfs for t in slots):
        return spark.createDataFrame([], "doc_id bigint, n_matches bigint")

    order = sorted(range(len(slots)), key=lambda i: dfs[slots[i]])
    base_i = order[0]
    out = pp.where(F.col("term") == slots[base_i]).select(
        "doc_id", F.col("positions").alias(f"pos_{base_i}")
    )
    for i in order[1:]:
        side = pp.where(F.col("term") == slots[i]).select(
            "doc_id", F.col("positions").alias(f"pos_{i}")
        )
        out = out.join(side, "doc_id")

    if len(slots) == 1:
        res = out.select(
            "doc_id", F.size("pos_0").cast("bigint").alias("n_matches")
        )
        return live_docs(index, res) if respect_deletes else res
    others = [i for i in range(len(slots)) if i != base_i]
    match_starts = F.filter(
        F.col(f"pos_{base_i}"),
        lambda p: reduce(
            lambda acc, i: acc & F.array_contains(
                F.col(f"pos_{i}"), p + F.lit(i - base_i)
            ),
            others,
            F.lit(True),
        ),
    )
    res = (
        out.withColumn("n_matches", F.size(match_starts).cast("bigint"))
        .where(F.col("n_matches") > 0)
        .select("doc_id", "n_matches")
    )
    return live_docs(index, res) if respect_deletes else res


def match_phrase_prefix(
    index: PhysicalIndex,
    phrase: str,
    analyzer: str = "code",
    max_expansions: int = 50,
    respect_deletes: bool = True,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the analyzed phrase must appear as
    consecutive tokens, with the LAST token treated as a prefix —
    expanded against the term dictionary (capped ``max_expansions`` by
    term ASC, Lucene's expansion order).  Returns ``(doc_id,
    n_matches)`` where ``n_matches`` counts valid start positions (a
    start is valid if ANY expansion follows the exact slots — multiple
    expansions at one start count once, matching Lucene's span
    semantics).

    Scale shape: the dictionary probe touches term_stats only; the
    positional decode is pruned to ``exact slots + expansion set``; the
    per-doc merge of expansion positions is one hash aggregation over
    candidate docs (``flatten(collect_list)``), and adjacency runs as a
    JVM higher-order expression — identical cost model to
    :func:`match_phrase` plus the bounded expansion union.
    """
    from ..analyzer.chain import get_analyzer
    from ..index.deletes import live_docs

    slots = get_analyzer(analyzer).tokenize(phrase)
    spark = index.spark
    empty = spark.createDataFrame([], "doc_id bigint, n_matches bigint")
    if not slots:
        return empty
    prefix, exact = slots[-1], slots[:-1]
    exp = [
        r["term"]
        for r in index.term_stats.where(F.col("term").startswith(prefix))
        .select("term").orderBy("term").limit(max_expansions).collect()
    ]
    if not exp:
        return empty

    pp = positional_postings(index,
                             sorted(set(exact) | set(exp))).cache()
    # last slot: per-doc union of every expansion's positions
    last = (
        pp.where(F.col("term").isin(exp))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("positions")))
            ).alias("pos_last")
        )
    )
    if not exact:
        res = last.select(
            "doc_id", F.size("pos_last").cast("bigint").alias("n_matches")
        )
        return live_docs(index, res) if respect_deletes else res

    present = {
        r["term"]
        for r in pp.select("term").distinct().collect()
    }
    if any(t not in present for t in exact):
        return empty
    out = pp.where(F.col("term") == exact[0]).select(
        "doc_id", F.col("positions").alias("pos_0")
    )
    for i, t in enumerate(exact[1:], start=1):
        side = pp.where(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"pos_{i}")
        )
        out = out.join(side, "doc_id")
    out = out.join(last, "doc_id")

    n_last = len(exact)  # the prefix slot's offset from the start
    match_starts = F.filter(
        F.col("pos_0"),
        lambda p: reduce(
            lambda acc, i: acc & F.array_contains(
                F.col(f"pos_{i}"), p + F.lit(i)
            ),
            range(1, len(exact)),
            F.array_contains(F.col("pos_last"), p + F.lit(n_last)),
        ),
    )
    res = (
        out.withColumn("n_matches", F.size(match_starts).cast("bigint"))
        .where(F.col("n_matches") > 0)
        .select("doc_id", "n_matches")
    )
    return live_docs(index, res) if respect_deletes else res


def span_near(
    index: PhysicalIndex,
    phrase: str,
    slop: int = 0,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """Lucene ``SpanNearQuery`` (ordered): docs where the analyzed
    terms occur **in order** within a window of
    ``(last - first) - (n_terms - 1) <= slop`` — ``slop=0`` degrades to
    exact phrase adjacency.  Returns ``(doc_id, n_matches)`` where
    ``n_matches`` counts the distinct valid start positions.

    Matching runs as one JVM higher-order expression per candidate doc:
    for each start position ``p`` in slot 0, the minimal in-order chain
    is built greedily (``array_min(filter(pos_i, q -> q > prev))``) —
    greedy minimizes the chain's last position for a fixed start, so it
    decides start-validity exactly; no Python in the hot path.  The
    candidate set and decode pruning are identical to
    :func:`match_phrase` (partition-pruned positional block scan,
    rarest-first doc_id joins)."""
    from ..analyzer.chain import get_analyzer
    from ..index.deletes import live_docs

    slots = get_analyzer(analyzer).tokenize(phrase)
    spark = index.spark
    if not slots:
        return spark.createDataFrame([], "doc_id bigint, n_matches bigint")

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
        return spark.createDataFrame([], "doc_id bigint, n_matches bigint")

    # rarest-first JOIN order (chain driver), but the position chain
    # itself must follow slot order
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

    def _after(pv):
        # one-arg lambda (a 2-arg lambda would make F.filter bind the
        # second parameter to the ARRAY INDEX, clobbering the closure)
        return lambda q: q > pv

    def chain_last(p):
        """last position of the greedy in-order chain starting at p
        (null if any slot has no position after the previous one)."""
        prev = p
        for i in range(1, len(slots)):
            prev = F.array_min(F.filter(F.col(f"pos_{i}"), _after(prev)))
        return prev

    window_ok = F.filter(
        F.col("pos_0"),
        lambda p: chain_last(p).isNotNull()
        & ((chain_last(p) - p - F.lit(len(slots) - 1)) <= F.lit(slop)),
    )
    res = (
        out.withColumn("n_matches", F.size(window_ok).cast("bigint"))
        .where(F.col("n_matches") > 0)
        .select("doc_id", "n_matches")
    )
    return live_docs(index, res) if respect_deletes else res
