"""Inverted-index build — the Lucene core the reference delegates to ES
for (reference surface: `_mtermvectors` stats `TermVectorQuery.java:60-76`
and match queries `ElasticsearchTest.java:109-150`), rebuilt as DataFrame
aggregations.

Stage 1 (this module) produces the *logical* index — exploded postings +
stats tables; Stage 2 (`blocks.py`) lays postings out as docID-delta
varbyte-compressed blocks with block-max metadata for WAND.

Tables:

- postings    (doc_id, term, tf, dl)  — dl denormalized like Lucene norms
- term_stats  (term, df, ttf)         — A2/A3
- corpus_stats single row (doc_count, sum_ttf, sum_doc_freq, avgdl) — A4

Invariants (reference `ElasticsearchTest.java:140-149`, tested):
ttf >= df >= 1, ttf >= tf >= 1, sum_ttf == Σ tf.

Scale notes: the explode->groupBy(doc_id, term) is a map-side partial
agg (doc_id is the natural partition key of the scan, so most combining
happens before the shuffle); term_stats is a second partial agg over the
postings shuffle keyed by term. Skewed terms ('the', 'import') are a
query/layout concern, handled by salting in `blocks.py`, not here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer.spark_udfs import analyze


@dataclass
class LogicalIndex:
    postings: DataFrame      # (doc_id, term, tf, dl)
    term_stats: DataFrame    # (term, df, ttf)
    doc_lengths: DataFrame   # (doc_id, dl)
    _corpus_stats: dict | None = field(default=None, repr=False)
    #: Observation riding the tokenize stage (explode plan only):
    #: metric ``dc`` = docs with ≥1 token == exact doc_count.  It fires
    #: with the FIRST action that executes the postings plan (e.g. the
    #: cache-materializing term_stats write in the physical build) —
    #: doc_count then costs ZERO extra jobs.  One-shot: consume via
    #: ``pop_doc_count_observation`` and only when you are the one
    #: materializing the plan.
    _doc_count_obs: object | None = field(default=None, repr=False)

    @classmethod
    def from_postings(cls, postings: DataFrame,
                      doc_lengths: DataFrame | None = None) -> "LogicalIndex":
        """The logical index over ``postings``: term stats aggregated
        from them, doc lengths too unless given (docs without tokens
        have no postings)."""
        if doc_lengths is None:
            doc_lengths = postings.groupBy("doc_id").agg(
                F.first("dl").alias("dl"))
        term_stats = postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("ttf"),
        )
        return cls(postings, term_stats, doc_lengths)

    def pop_doc_count_observation(self):
        obs, self._doc_count_obs = self._doc_count_obs, None
        return obs

    @property
    def corpus_stats(self) -> dict:
        """A4 row (doc_count, sum_ttf, sum_doc_freq, avgdl) — computed
        lazily from the postings relation: one per-doc partial agg
        (postings are born doc-contiguous in the in-task plans, so the
        map side collapses to ~doc_count rows before the shuffle) and
        a ms-scale agg over term_stats.  Never re-tokenizes the corpus
        (the previous doc_lengths pass re-ran the analyzer over every
        document — ~20% of total build wall) and never
        countDistinct-expands the full postings relation."""
        if self._corpus_stats is None:
            row = (
                self.postings.groupBy("doc_id")
                .agg(F.first("dl").alias("dl"))
                .agg(
                    F.count(F.lit(1)).alias("doc_count"),
                    F.sum("dl").alias("sum_ttf"),
                )
                .collect()[0]
            )
            doc_count = row["doc_count"] or 0
            sum_ttf = row["sum_ttf"] or 0
            sdf = self.term_stats.agg(
                F.sum("df").alias("sdf")
            ).collect()[0]["sdf"] or 0
            self._corpus_stats = {
                "doc_count": doc_count,
                "sum_ttf": int(sum_ttf),
                "sum_doc_freq": int(sdf),
                "avgdl": (sum_ttf / doc_count) if doc_count else 0.0,
            }
        return self._corpus_stats


def tokenize_docs(
    docs: DataFrame,
    text_col: str = "content",
    analyzer: str = "code",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, tokens, dl) — dl = token count of the analyzed field.

    ``analyze`` routes JVM-expressible chains (``code``,
    ``simple_code``) to pure built-in expressions (whole-stage codegen,
    no Python); the rest go through the vectorized pandas UDF chain."""
    tokens = analyze(text_col, analyzer)
    return docs.select(
        F.col(doc_id_col).alias("doc_id"),
        tokens.alias("tokens"),
    ).withColumn("dl", F.size("tokens"))


def tokenize_postings(
    docs: DataFrame,
    text_col: str = "content",
    analyzer: str = "code",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, term, tf, dl) in ONE narrow ``mapInPandas`` pass —
    tokenize and per-doc tf fused, so postings are born doc-partitioned
    and already aggregated.  The alternative (token explode →
    ``groupBy(doc_id, term)``) shuffles every token occurrence (~1.6×
    the posting count in rows) through a hash agg; fusing removes that
    shuffle entirely, leaving ``repartition(term, salt)`` in the block
    encoder as the build's only wide dependency.

    Counting is whole-batch vectorized: factorize the batch's token
    stream once, then ``np.unique`` over combined (row, code) keys.
    Round 4: chains the batch tokenizer covers (``code``,
    ``simple_code``, ``simple``) tokenize the WHOLE batch with one
    ``finditer`` (`chain.batch_tokenize_with_offsets`) instead of a
    per-document Python call, and output rides ``mapInArrow`` — this
    makes the fused path competitive with the JVM explode plan in
    absolute time while carrying ZERO pre-encode exchange (the explode
    plan shuffles ~posting-count rows into its final agg)."""
    import numpy as np
    import pandas as pd

    from ..analyzer.chain import get_analyzer

    an = get_analyzer(analyzer)
    out_schema = "doc_id bigint, term string, tf bigint, dl bigint"

    def run(batches):
        import pyarrow as pa

        from ..analyzer.chain import batch_tokenize_with_offsets

        tok = an.tokenize
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            texts = rb.column(names.index(text_col)).to_pylist()
            doc_ids = rb.column(names.index(doc_id_col)) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            fast = batch_tokenize_with_offsets(an, texts)
            if fast is not None:
                rows, flat, _s, _e, lens = fast
                lens = np.asarray(lens, dtype=np.int64)
            else:
                toks = [tok(s) if s is not None else [] for s in texts]
                lens = np.array([len(t) for t in toks], dtype=np.int64)
                rows = np.repeat(
                    np.arange(len(toks), dtype=np.int64), lens)
                flat = [t for ts in toks for t in ts]
            if not lens.sum():
                continue
            codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
            key = rows * np.int64(len(uniq)) + codes
            uk, counts = np.unique(key, return_counts=True)
            row_of = (uk // len(uniq)).astype(np.int64)
            code_of = (uk % len(uniq)).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[row_of], type=pa.int64()),
                    pa.array(np.asarray(uniq, dtype=object)[code_of],
                             type=pa.string()),
                    pa.array(counts.astype(np.int64), type=pa.int64()),
                    pa.array(lens[row_of], type=pa.int64()),
                ],
                names=["doc_id", "term", "tf", "dl"],
            )

    return docs.select(doc_id_col, text_col).mapInArrow(run, out_schema)


def tokenize_occurrence_postings(
    docs: DataFrame,
    text_col: str = "content",
    analyzer: str = "code",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Fused offsets postings: one ``mapInPandas`` pass straight to
    ``(doc_id, term, tf, dl, positions, start_offsets, end_offsets)``
    — one row per POSTING with the per-occurrence payloads nested, in
    position order.

    Every document's text is a single input row, so all its
    occurrences live in one Arrow batch; grouping to postings is a
    numpy ``lexsort`` INSIDE the task, which removes the (doc_id,
    term) exchange + ``sort_array(collect_list(...))`` aggregation the
    explode-shape plan pays — the offsets build's only extra shuffle
    vs the plain build disappears (its remaining extra cost is the
    wider encode exchange, which is the data itself).  ``mapInArrow``,
    not ``mapInPandas``: the nested payload columns are built as
    Arrow ``ListArray.from_arrays(offsets, flat_values)`` directly
    from the grouped numpy streams — measured 56× cheaper than
    materializing millions of per-posting ``np.split`` views through
    a pandas object column."""
    import numpy as np
    import pandas as pd

    from ..analyzer.chain import batch_tokenize_with_offsets, get_analyzer

    an = get_analyzer(analyzer)
    schema = ("doc_id bigint, term string, tf bigint, dl bigint, "
              "positions array<int>, start_offsets array<int>, "
              "end_offsets array<int>")

    def run(batches):
        import pyarrow as pa

        two = an.tokenize_with_offsets
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            texts = rb.column(names.index(text_col)).to_pylist()
            doc_ids = rb.column(names.index(doc_id_col)) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            fast = batch_tokenize_with_offsets(an, texts)
            if fast is not None:
                doc_idx, terms, starts, ends, n_per_doc = fast
            else:
                triples = [two(s) if s is not None else []
                           for s in texts]
                n_per_doc = np.array([len(t) for t in triples],
                                     dtype=np.int64)
                doc_idx = np.repeat(
                    np.arange(len(triples), dtype=np.int64), n_per_doc)
                terms = [t for tr in triples for t, _, _ in tr]
                total = int(n_per_doc.sum())
                starts = np.fromiter(
                    (s for tr in triples for _, s, _ in tr),
                    dtype=np.int64, count=total)
                ends = np.fromiter(
                    (e for tr in triples for _, _, e in tr),
                    dtype=np.int64, count=total)
            if not len(terms):
                continue
            first_of = np.searchsorted(doc_idx, doc_idx, side="left")
            pos = np.arange(len(doc_idx), dtype=np.int64) - first_of
            codes, uniq = pd.factorize(np.asarray(terms, dtype=object))
            order = np.lexsort((pos, codes, doc_idx))
            d2, c2 = doc_idx[order], codes[order]
            p2 = pos[order].astype(np.int32)
            s2 = starts[order].astype(np.int32)
            e2 = ends[order].astype(np.int32)
            gs = np.flatnonzero(np.concatenate(
                ([True], (d2[1:] != d2[:-1]) | (c2[1:] != c2[:-1]))))
            tf = np.diff(np.concatenate((gs, [len(d2)])))
            off = pa.array(
                np.concatenate((gs, [len(d2)])).astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[d2[gs]], type=pa.int64()),
                    pa.array(np.asarray(uniq, dtype=object)[c2[gs]],
                             type=pa.string()),
                    pa.array(tf.astype(np.int64), type=pa.int64()),
                    pa.array(
                        np.asarray(n_per_doc)[d2[gs]].astype(np.int64),
                        type=pa.int64()),
                    pa.ListArray.from_arrays(off, pa.array(p2)),
                    pa.ListArray.from_arrays(off, pa.array(s2)),
                    pa.ListArray.from_arrays(off, pa.array(e2)),
                ],
                names=["doc_id", "term", "tf", "dl", "positions",
                       "start_offsets", "end_offsets"],
            )

    return docs.select(doc_id_col, text_col).mapInArrow(run, schema)


def build_logical_index(
    docs: DataFrame,
    text_col: str = "content",
    analyzer: str = "code",
    doc_id_col: str = "doc_id",
    with_positions: bool = False,
    with_offsets: bool = False,
) -> LogicalIndex:
    """One postings plan per payload shape, chosen from the arguments:

    - no payload, JVM-expressible analyzer (``code``, ``simple_code``):
      tokenize + explode + partial hash agg inside whole-stage codegen,
      the (doc_id, term) exchange map-side combined; a tokenize-stage
      ``Observation`` yields the exact doc count for free;
    - no payload, Python-chain analyzer: ``tokenize_postings`` — per-doc
      tf assembled inside the tokenize task, so occurrences never cross
      an Arrow boundary unaggregated;
    - ``with_positions`` and/or ``with_offsets``:
      ``tokenize_occurrence_postings`` — postings with nested
      per-occurrence payloads assembled in-task, no (doc_id, term)
      exchange; the offset columns are dropped when only positions
      are asked for.

    ``positions`` are 0-based token indexes (``size(positions) == tf``)
    — the per-token position payload of the reference's term-vector
    contract (`TermVectorQuery.java:60-76`; fixture
    `TermVectorTokensTest.java` carries a ``position`` per token);
    ``start_offsets``/``end_offsets`` are the char spans of the
    ``offsets`` flag."""
    from ..analyzer.spark_udfs import JVM_TOKEN_EXPRS

    doc_lengths = tokenize_docs(docs, text_col, analyzer, doc_id_col).select(
        "doc_id", "dl"
    )
    dc_obs = None

    if with_positions or with_offsets:
        postings = tokenize_occurrence_postings(
            docs, text_col, analyzer, doc_id_col)
        if not with_offsets:
            postings = postings.drop("start_offsets", "end_offsets")
    elif analyzer not in JVM_TOKEN_EXPRS:
        postings = tokenize_postings(docs, text_col, analyzer, doc_id_col)
    else:
        import uuid

        from pyspark.sql import Observation

        # JVM analyzers stay on the codegen explode plan even though the
        # in-task plan has no pre-encode exchange: measured on one box,
        # the in-task plan's Python postings phase stops scaling once
        # the memory bus saturates (8→32-core scaling 0.626 vs 0.834,
        # `BENCH/SCALING_FUSED_8x32.md`)
        tok = tokenize_docs(docs, text_col, analyzer, doc_id_col)
        # unique name: plans of two logical indexes may legally meet in
        # one query (union_indexes / cross_fields), and Spark rejects
        # duplicate CollectMetrics names within a plan
        dc_obs = Observation(f"tok_doc_count_{uuid.uuid4().hex[:8]}")
        tok = tok.observe(
            dc_obs, F.count(F.when(F.col("dl") > 0, 1)).alias("dc")
        )
        postings = (
            tok.select("doc_id", "dl", F.explode("tokens").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        )

    out = LogicalIndex.from_postings(postings, doc_lengths)
    out._doc_count_obs = dc_obs
    return out


def term_vectors(
    index: LogicalIndex,
    doc_ids: list[int] | None = None,
    term_statistics: bool = True,
    positions: bool | None = None,
    offsets: bool | None = None,
    payloads: bool = False,
) -> DataFrame:
    """Per-doc term vectors — the `_mtermvectors` surface (S4): for each
    doc a term-sorted list of (term, tf[, df, ttf][, positions]
    [, start_offsets, end_offsets]).  The id-set probe is a broadcast
    semi-join, mirroring the reference's 100-ids-per-batch fetch
    (`TermVectorIterator.java:31-130`) without the client-side batching.

    The four flags mirror the reference's request exactly
    (`TermVectorQuery.java:60-76`; all 2⁴ combinations are exercised in
    `TermVectorQueryTest.java:70-95`):

    - ``term_statistics``: include global ``df``/``ttf`` columns.
    - ``positions`` / ``offsets``: ``None`` = include whatever the
      index stores (the pre-flag behavior); ``True`` raises if the
      index wasn't built with that payload; ``False`` drops it.
    - ``payloads``: accepted for request parity.  This engine indexes
      no per-position payloads, and ES omits the ``payload`` field
      entirely when none are indexed — so ``payloads=True`` is
      observably identical to ``False``, which is exactly the
      reference cluster's behavior on its own index (the golden
      fixture `TermVectorTokensTest.java:16-55` carries none).
    """
    p = index.postings
    if doc_ids is not None:
        spark = p.sparkSession
        ids_df = spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id bigint")
        p = p.join(F.broadcast(ids_df), "doc_id")
    fields = ["term", "tf"]
    if term_statistics:
        enriched = p.join(index.term_stats, "term")
        fields += ["df", "ttf"]
    else:
        enriched = p
    has_pos = "positions" in p.columns
    has_off = "start_offsets" in p.columns
    if positions is True and not has_pos:
        raise ValueError(
            "positions=True needs an index built with "
            "with_positions/with_offsets"
        )
    if offsets is True and not has_off:
        raise ValueError(
            "offsets=True needs an index built with with_offsets"
        )
    if has_pos and positions is not False:
        # positions-per-token payload of the `_mtermvectors` response
        fields.append("positions")
    if has_off and offsets is not False:
        # char-span payload of the ``offsets`` flag — golden shape
        # ``start_offset``/``end_offset`` in `TermVectorTokensTest.java:16-55`
        fields += ["start_offsets", "end_offsets"]
    return (
        enriched.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(*fields))
            ).alias("terms")
        )
    )


def term_vector_tokens(index: LogicalIndex, distinct: bool = False) -> DataFrame:
    """Token multiset re-inflation (S5/S6): each term repeated tf times in
    sorted term order (`TermVectorTokens.java:38-68`), or distinct terms
    (`TermVectorDocTokens.java:19-31`)."""
    return (
        index.postings.select("doc_id", "term", "tf")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("term", "tf"))),
                    lambda s: (
                        F.array(s["term"]) if distinct
                        else F.array_repeat(s["term"], s["tf"].cast("int"))
                    ),
                )
            ).alias("tokens")
        )
    )


def vocabulary(index: LogicalIndex) -> DataFrame:
    """Sorted distinct token set (A5, `Vocabulary.java:11-43`)."""
    return index.term_stats.select("term").orderBy("term")


def union_indexes(indexes: list[LogicalIndex]) -> LogicalIndex:
    """Multi-index search (ES ``GET idx1,idx2/_search`` / alias over
    several indices): one LogicalIndex whose postings are the union and
    whose term/corpus statistics are the MERGED global stats — so BM25
    idf/avgdl are computed across all indices, exactly like ES scoring
    across a multi-index request (with default search_type, stats are
    per-shard-group merged).

    Doc ids must be disjoint across indexes (same contract as ES
    distinct _index/_id pairs; enforced cheaply at query time by the
    first aggregation).  Cost: unions are plan-level concatenations —
    term_stats re-aggregates |union vocab| rows, no postings shuffle.
    """
    if not indexes:
        raise ValueError("union_indexes needs at least one index")
    postings = indexes[0].postings
    stats = indexes[0].term_stats
    lengths = indexes[0].doc_lengths
    for ix in indexes[1:]:
        postings = postings.unionByName(ix.postings)
        stats = stats.unionByName(ix.term_stats)
        lengths = lengths.unionByName(ix.doc_lengths)
    merged_stats = stats.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("ttf").alias("ttf")
    )
    return LogicalIndex(
        postings=postings, term_stats=merged_stats, doc_lengths=lengths
    )
