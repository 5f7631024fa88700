"""Block-max pruned BM25 top-k over the compressed index.

Variant of block-max WAND (Ding & Suel 2011 — public algorithm) adapted
to a batch engine, exact by construction:

1. **Candidate pruning at the read**: query terms → term buckets →
   only the ``tb=`` directories of those buckets are read, with a
   ``term`` filter on the row-group min/max — only the query terms'
   blocks are ever decoded.
2. **Champion seeding**: the query term with the largest single-term
   upper bound is decoded exactly; the k-th best single-term score is a
   valid lower bound θ of the final k-th best total (every total ≥ its
   own single-term contribution, so the final k-th best ≥ θ).
3. **Block-max interval pruning**: sweep the docID axis; for each
   elementary interval the sum of covering blocks' upper bounds
   (ub = idf·max_tfhat) bounds any doc's total score there.  Blocks
   whose entire span never reaches θ are skipped *without decoding* —
   the block-max skip of BMW at block granularity.
4. Surviving blocks: one concatenated varbyte decode (self-delimiting
   streams), segmented delta-cumsum, vectorized BM25 contributions,
   bincount aggregation, exact top-k with (score DESC, doc_id ASC).

Exactness: a doc only in skipped regions has total ≤ interval UB < θ ≤
final k-th score, so it cannot enter the top-k.  Scores of surviving
docs are computed from *all* their postings (a surviving block is
decoded in full), in term-sorted order — the same float64 summation
order as the brute-force path and the pandas oracle.

Two executions, one kernel.  Every per-request read — term stats,
term buckets (Spark's own XXH64 through the JVM gateway), tombstones —
happens in the driver, so the batch's candidate postings (Σ df over its
(query, term) pairs) are known before any block is read:

- a small batch (Σ df ≤ ``DRIVER_POSTINGS_MAX`` — a single request
  unless its terms cover millions of postings) reads its candidate
  blocks with pyarrow and scores them in the driver, and its result
  frame is a local relation: ZERO Spark jobs.  A request is then tens of
  milliseconds, not the ~0.8 s of Spark job overhead it used to be;
- a big batch runs ONE ``repartition(query_id)`` →
  ``sortWithinPartitions`` → ``mapInArrow`` pass over the candidate
  blocks, ~2 partitions per core with MANY queries per Python task, so
  executor parallelism carries it.  The earlier
  ``groupBy.applyInPandas`` version paid a per-*group* Arrow round-trip +
  pandas materialization (~15 ms × one per query): a 480-query batch
  spent 7-22 s in harness overhead against ~1 s of actual
  transfer+scoring, and *anti-scaled* from 8 to 32 cores.  Here payload
  bytes come in as Arrow binary columns and are sliced as numpy
  ``uint8`` views — no per-row ``bytes`` objects, no pandas — and
  per-task overhead is paid ~2×cores times per batch, not per query.

Both feed ``_score_partition`` the same rows in the same (query_id,
term, first_doc) order, so they return identical results.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.blocks import SCORE_COLUMNS, PhysicalIndex
from ..index.codec import segmented_delta_decode, vb_decode
from .bm25 import bm25_contrib

RESULT_SCHEMA = "query_id bigint, rank int, doc_id bigint, score double"


def _bin_view(col) -> tuple[np.ndarray, np.ndarray]:
    """(data_bytes, offsets) numpy views over a single-chunk Arrow
    binary column — zero-copy; ``data[offsets[i]:offsets[i+1]]`` is
    row i's payload."""
    ch = col.chunk(0)
    offs = np.frombuffer(ch.buffers()[1], dtype=np.int32)
    offs = offs[ch.offset: ch.offset + len(ch) + 1].astype(np.int64)
    data_buf = ch.buffers()[2]
    data = (np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None else np.empty(0, dtype=np.uint8))
    return data, offs


def _gather_payload(data: np.ndarray, offs: np.ndarray,
                    rows: np.ndarray) -> np.ndarray:
    """Concatenate the payloads of ``rows`` (ascending) into one uint8
    array — a single vectorized gather, no per-row bytes objects."""
    lens = offs[rows + 1] - offs[rows]
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8)
    seg0 = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # per-segment constant shift -> ONE repeat, not two
    idx = np.arange(total, dtype=np.int64) + np.repeat(offs[rows] - seg0, lens)
    return data[idx]


#: dense per-doc accumulators are used when the docID space fits a
#: short-lived ~32 MB scratch array; beyond that (e.g. a 100M-doc
#: corpus in one ID space) the sort-based sparse path kicks in
_DENSE_DOCS_MAX = 4_000_000


def _scores_for_rows(rows: np.ndarray, ns, idf, avgdl: float,
                     payloads, doc_count: int,
                     deleted: np.ndarray | None = None,
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Exact per-doc BM25 sums over the given block rows (ascending ⇒
    term-sorted accumulation order).  Returns (doc_ids, scores).

    Both aggregation paths add each posting's contribution in row order
    (``bincount`` and ``unique``+``bincount(inv)`` traverse ``contrib``
    identically), so scores are bit-identical across paths and to the
    brute-force oracle's term-sorted accumulation."""
    (d_data, d_offs), (t_data, t_offs), (l_data, l_offs) = payloads
    n_sel = ns[rows]
    docs = segmented_delta_decode(
        vb_decode(_gather_payload(d_data, d_offs, rows)).astype(np.int64),
        n_sel,
    )
    tfs = vb_decode(_gather_payload(t_data, t_offs, rows)).astype(np.float64)
    dls = vb_decode(_gather_payload(l_data, l_offs, rows)).astype(np.float64)
    idf_rep = np.repeat(idf[rows], n_sel)
    if deleted is not None and len(deleted):
        # tombstone mask BEFORE any scoring: champion θ and final
        # scores both see live docs only, so pruning stays exact
        from ..index.deletes import mask_deleted

        live = mask_deleted(docs, deleted)
        docs, tfs, dls, idf_rep = (
            docs[live], tfs[live], dls[live], idf_rep[live]
        )
    contrib = idf_rep * tfs / (
        tfs + 1.2 * (0.25 + 0.75 * dls / avgdl)
    )
    if 0 < doc_count <= _DENSE_DOCS_MAX:
        # O(n) dense accumulation — no sort of the decoded doc stream
        hits = np.bincount(docs, minlength=doc_count)
        sums = np.bincount(docs, weights=contrib, minlength=doc_count)
        nz = np.flatnonzero(hits)
        return nz, sums[nz]
    uniq, inv = np.unique(docs, return_inverse=True)
    return uniq, np.bincount(inv, weights=contrib)


def _topk_group(s: int, e: int, qid: int, k: int, codes, idf, fd, ld, mt,
                ns, payloads, avgdl: float, doc_count: int,
                deleted: np.ndarray | None = None):
    """Score ONE query's candidate blocks (rows [s, e), sorted by
    (term, first_doc)) → (doc_ids, scores) arrays of its top-k."""
    ub = idf[s:e] * mt[s:e]
    gcodes = codes[s:e]
    run_starts = np.concatenate(
        ([0], np.flatnonzero(gcodes[1:] != gcodes[:-1]) + 1)
    )
    rows = np.arange(s, e, dtype=np.int64)

    theta = -np.inf
    if len(run_starts) > 1:  # pruning pointless for single-term queries
        # --- champion seeding: exact-decode the strongest term
        run_ends = np.concatenate((run_starts[1:], [e - s]))
        per_run_max = np.maximum.reduceat(ub, run_starts)
        r = int(np.argmax(per_run_max))
        champ = rows[run_starts[r]: run_ends[r]]
        _, cscores = _scores_for_rows(champ, ns, idf, avgdl, payloads,
                                      doc_count, deleted)
        if len(cscores) >= k:
            theta = np.partition(cscores, -k)[-k]

        # --- interval sweep: max covering-UB per block span
        lo = fd[s:e]
        hi = ld[s:e]
        events = np.concatenate([lo, hi + 1])
        deltas = np.concatenate([ub, -ub])
        order = np.argsort(events, kind="stable")
        pts, inv = np.unique(events[order], return_inverse=True)
        cov = np.zeros(len(pts))
        np.add.at(cov, inv, deltas[order])
        cov = np.cumsum(cov)  # coverage on [pts[i], pts[i+1])
        i1 = np.searchsorted(pts, lo, side="right") - 1
        i2 = np.searchsorted(pts, hi, side="right") - 1
        keep = np.zeros(e - s, dtype=bool)
        for j in range(e - s):  # ≤ blocks-per-query, metadata only
            keep[j] = cov[i1[j]: i2[j] + 1].max() >= theta
        rows = rows[keep]

    if not len(rows):
        return (np.empty(0, dtype=np.int64), np.empty(0), 0)
    d, sc = _scores_for_rows(rows, ns, idf, avgdl, payloads, doc_count,
                             deleted)
    if len(sc) > k:
        # shrink to the score-threshold candidate set before the exact
        # (score DESC, doc_id ASC) sort: any doc below the k-th best
        # score cannot rank; ties at the boundary stay in and are
        # resolved by the lexsort, so selection is exact
        thr = np.partition(sc, -k)[-k]
        m = sc >= thr
        d, sc = d[m], sc[m]
    cand = np.lexsort((d, -sc))[:k]  # (score DESC, doc_id ASC)
    return d[cand], sc[cand], len(cand)


def _score_partition(batches, avgdl: float, doc_count: int = 0,
                     deleted: np.ndarray | None = None):
    """mapInArrow: candidate blocks sorted by (query_id, term,
    first_doc); one numpy scoring pass per query group.  The whole
    partition is concatenated first — a partition holds the candidate
    blocks of ~(queries / 2·cores) queries, bounded by the repartition
    in ``_spark_topk`` (or of one small batch, ``_driver_topk``), so
    this is MBs, not the corpus."""
    import pyarrow as pa

    pending = [pa.Table.from_batches([rb]) for rb in batches if rb.num_rows]
    if not pending:
        return
    t = pa.concat_tables(pending).combine_chunks()
    import pyarrow.compute as pc

    qids = t.column("query_id").chunk(0).to_numpy()
    ks = t.column("k").chunk(0).to_numpy()
    idf = t.column("idf").chunk(0).to_numpy()
    fd = t.column("first_doc").chunk(0).to_numpy()
    ld = t.column("last_doc").chunk(0).to_numpy()
    mt = t.column("max_tfhat").chunk(0).to_numpy()
    ns = t.column("n").chunk(0).to_numpy().astype(np.int64)
    codes = pc.dictionary_encode(t.column("term").chunk(0)).indices.to_numpy()
    payloads = (_bin_view(t.column("docs_vb")),
                _bin_view(t.column("tfs_vb")),
                _bin_view(t.column("dls_vb")))

    gstarts = np.concatenate(
        ([0], np.flatnonzero(qids[1:] != qids[:-1]) + 1, [len(qids)])
    )
    out_qid, out_rank, out_doc, out_score = [], [], [], []
    for gi in range(len(gstarts) - 1):
        s, e = int(gstarts[gi]), int(gstarts[gi + 1])
        d, sc, nk = _topk_group(s, e, int(qids[s]), int(ks[s]), codes, idf,
                                fd, ld, mt, ns, payloads, avgdl, doc_count,
                                deleted)
        if nk:
            out_qid.append(np.full(nk, qids[s], dtype=np.int64))
            out_rank.append(np.arange(1, nk + 1, dtype=np.int32))
            out_doc.append(d)
            out_score.append(sc)
    if not out_qid:
        return
    yield pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(out_qid), type=pa.int64()),
         pa.array(np.concatenate(out_rank), type=pa.int32()),
         pa.array(np.concatenate(out_doc).astype(np.int64), type=pa.int64()),
         pa.array(np.concatenate(out_score), type=pa.float64())],
        ["query_id", "rank", "doc_id", "score"],
    )


def wand_topk(
    index: PhysicalIndex,
    queries: "DataFrame | pd.DataFrame",
    k: int | None = None,
    analyzer: str = "code",
    respect_deletes: bool = True,
) -> DataFrame:
    """(query_id, rank, doc_id, score) — exact BM25 top-k via the
    compressed index with block-max pruning.

    Query latency shape: the query *batch* is tiny, so its analysis
    runs driver-side with the identical ``Analyzer`` chain the index
    UDFs wrap (parity-tested), and the term stats and tombstones are
    read in the driver.  A small batch is then scored in the driver
    with ZERO Spark jobs; a big one is ONE pruned block scan + per-query
    scoring job (``topk_from_pairs``).  A ``queries`` Spark DataFrame is
    collected first.
    """
    from ..analyzer.chain import get_analyzer

    deleted, del_df = _tombstones(index, respect_deletes)

    qp = queries.toPandas() if isinstance(queries, DataFrame) else queries
    an = get_analyzer(analyzer)
    if k is not None:
        ks = {int(q): int(k) for q in qp["query_id"]}
    elif "k" in qp.columns:
        ks = dict(zip((int(q) for q in qp["query_id"]),
                      (int(x) for x in qp["k"])))
    else:
        ks = {int(q): 10 for q in qp["query_id"]}
    pairs = sorted({
        (int(qid), t)
        for qid, text in zip(qp["query_id"], qp["query_text"])
        for t in an.tokenize(text)
    })
    return topk_from_pairs(index, pairs, ks,
                           deleted=deleted, deleted_df=del_df)


def _topk_join_path(
    index: PhysicalIndex,
    q: pd.DataFrame,
    deleted_df: DataFrame,
    avgdl: float,
) -> DataFrame:
    """Over-cap tombstone fallback: exact BM25 over the same pruned
    block scan, decoded to postings and anti-joined against the
    tombstone table — a shuffle anti-join instead of a driver-closure
    array, so the delete set never rides through the driver.  Scores /
    ranking convention identical to the numpy path (raw score DESC,
    doc_id ASC); only the float summation order differs (Spark agg vs
    term-sorted numpy), i.e. ≤1 ulp."""
    from pyspark.sql.window import Window

    post = index.logical_postings(
        F.col("tb").isin(sorted(set(q["tb"])))
        & F.col("term").isin(sorted(set(q["term"])))
    ).select("doc_id", "term", "tf", "dl")
    live = post.join(deleted_df.select("doc_id"), "doc_id", "left_anti")
    scored = (
        live.join(F.broadcast(index.spark.createDataFrame(
            q[["query_id", "term", "idf", "k"]])), "term")
        .withColumn("contrib", bm25_contrib(F.col("idf"), avgdl))
        .groupBy("query_id", "doc_id", "k")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select(
            F.col("query_id").cast("bigint"),
            F.col("rank").cast("int"),
            F.col("doc_id").cast("bigint"),
            F.col("score").cast("double"),
        )
        .orderBy("query_id", "rank")
    )


def _tombstones(index: PhysicalIndex, respect: bool):
    """(closure_array | None, anti_join_df | None) — the tombstone set
    in whichever shape fits: a driver-side sorted array under the
    ``TOMBSTONE_DRIVER_CAP``, else a DataFrame for the distributed
    anti-join path (a huge ``delete_by_query`` backlog before
    compaction must never become O(deleted) driver memory)."""
    if not respect:
        return None, None
    from ..index.deletes import (
        TombstoneOverflowError, deleted_array, deleted_df,
    )

    try:
        arr = deleted_array(index)
        return (arr if len(arr) else None), None
    except TombstoneOverflowError:
        return None, deleted_df(index)


#: candidate postings (Σ df over a batch's (query, term) pairs) up to
#: which a batch is scored in the driver, with no Spark job; a bigger
#: batch is spread over the executors by the ``mapInArrow`` scan.  Set
#: at the crossover of the two paths on a 240k-doc index (F3 batches of
#: 1-120 queries, Σ df 0.24M-21.9M, timed at local[1]/[2]/[4] on a
#: 4-core VM): the driver path costs ~0.2 µs per candidate posting on
#: one core, the Spark path ~2.5 s serial + ~9 core-s per 22M postings,
#: so at 16 cores the two meet near 11M postings.  At 4 cores the
#: driver path is still ahead at 21.9M (4.6 vs 4.9 s).
DRIVER_POSTINGS_MAX = 10_000_000


def _query_terms(index: PhysicalIndex, pairs: list[tuple[int, str]],
                 ks: dict[int, int], doc_count: int) -> pd.DataFrame:
    """One row per (query_id, term) pair whose term is indexed — the
    term's idf, df and bucket ``tb`` and the query's k — sorted by
    (query_id, term).  The term stats come from
    ``PhysicalIndex.term_stats_for``: cached per index generation and
    read in the driver."""
    ts = index.term_stats_for(sorted({t for _, t in pairs}))
    rows = [
        (qid, t, math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5)),
         ks[qid], df, tb)
        for qid, t in pairs
        for df, tb in [ts[t]]
        if df is not None
    ]
    return pd.DataFrame(
        rows, columns=["query_id", "term", "idf", "k", "df", "tb"]
    ).sort_values(["query_id", "term"], ignore_index=True)


def _driver_topk(index: PhysicalIndex, q: pd.DataFrame, stats: dict,
                 deleted: "np.ndarray | None" = None) -> pd.DataFrame:
    """Score the batch ``q`` (``_query_terms``) in the driver: its
    candidate blocks are read with pyarrow (``PhysicalIndex.read_blocks``)
    and laid out as one partition of the ``mapInArrow`` path — one row
    per (query, block), sorted by (query_id, term, first_doc) — for the
    same kernel, ``_score_partition``.  Returns the top-k rows sorted by
    (query_id, rank)."""
    import pyarrow as pa

    empty = pd.DataFrame({c: pd.Series(dtype=t) for c, t in (
        ("query_id", "int64"), ("rank", "int32"), ("doc_id", "int64"),
        ("score", "float64"))})
    blocks = index.read_blocks(sorted(set(q["term"])),
                               sorted(set(q["tb"])))
    if blocks is None or not blocks.num_rows:
        return empty
    blocks = blocks.sort_by([("term", "ascending"),
                             ("first_doc", "ascending")])
    names, first, count = np.unique(
        blocks.column("term").to_numpy(zero_copy_only=False),
        return_index=True, return_counts=True)
    span = {t: (int(f), int(c)) for t, f, c in zip(names, first, count)}
    f0, n = np.array([span[t] for t in q["term"]]).T
    rows = np.repeat(f0 - np.cumsum(n) + n, n) + np.arange(n.sum())
    cand = blocks.take(rows)
    for col, dtype in (("query_id", pa.int64()), ("k", pa.int64()),
                       ("idf", pa.float64())):
        cand = cand.append_column(
            col, pa.array(np.repeat(q[col].to_numpy(), n), type=dtype))
    out = list(_score_partition(cand.to_batches(),
                                avgdl=float(stats["avgdl"]) or 1.0,
                                doc_count=stats["doc_count"],
                                deleted=deleted))
    if not out:
        return empty
    return (pa.Table.from_batches(out).to_pandas()
            .sort_values(["query_id", "rank"], ignore_index=True))


def _spark_topk(index: PhysicalIndex, q: pd.DataFrame, stats: dict,
                deleted: "np.ndarray | None" = None) -> DataFrame:
    """Score the batch ``q`` (``_query_terms``) on the executors: ONE
    pruned block scan joined to the broadcast query terms, repartitioned
    by query and scored by ``_score_partition`` in ``mapInArrow``.  Two
    pruning layers reach the parquet reader: hive partition pruning on
    ``tb`` (and on ``segment``, to the committed segments), and an
    ``isin`` on term — blocks are term-sorted within each bucket file, so
    parquet row-group min/max stats skip nearly all non-candidate
    groups.  Rows come out unordered."""
    blocks = index.blocks.where(F.col("tb").isin(sorted(set(q["tb"]))))
    if index.segmented:
        blocks = blocks.where(F.col("segment").isin(index.committed_segments))
    blocks = blocks.where(F.col("term").isin(sorted(set(q["term"])))) \
        .select(*SCORE_COLUMNS)
    qdf = index.spark.createDataFrame(q[["query_id", "term", "idf", "k"]])
    cand = blocks.join(F.broadcast(qdf), "term")

    # scoring partitions: ~2 per core so stragglers (skewed queries)
    # pack, but NOT per-query — each Python task scores many queries
    nparts = max(1, min(q["query_id"].nunique(),
                        2 * index.spark.sparkContext.defaultParallelism))
    return (
        cand.repartition(nparts, "query_id")
        .sortWithinPartitions("query_id", "term", "first_doc")
        .mapInArrow(
            partial(_score_partition, avgdl=float(stats["avgdl"]) or 1.0,
                    doc_count=stats["doc_count"], deleted=deleted),
            RESULT_SCHEMA,
        )
    )


def topk_from_pairs(
    index: PhysicalIndex,
    pairs: list[tuple[int, str]],
    ks: dict[int, int],
    deleted: "np.ndarray | None" = None,
    deleted_df: DataFrame | None = None,
) -> DataFrame:
    """The WAND scoring core over explicit (query_id, term) pairs —
    shared by :func:`wand_topk` (analyzed text) and
    ``query/fuzzy.py`` (vocabulary-expanded terms).

    A batch whose candidate postings (Σ df over its pairs, known from
    the term stats before any block is read) are at most
    ``DRIVER_POSTINGS_MAX`` is scored in the driver (``_driver_topk``)
    and runs no Spark job; a bigger one runs the ``mapInArrow`` scan
    (``_spark_topk``).  Both feed the same kernel the same rows in the
    same order, so their results are identical.

    ``deleted``: sorted tombstone array, masked inside the numpy
    scorer (the fast path — bounded by ``TOMBSTONE_DRIVER_CAP``).
    ``deleted_df``: over-cap fallback — the same exact BM25 over the
    identically-pruned block scan, but decoded to postings and
    anti-joined against the tombstone TABLE before scoring, so no
    driver-side materialization of the delete set ever happens."""
    stats = index.corpus_stats
    if not pairs:
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    q = _query_terms(index, pairs, ks, stats["doc_count"])
    if q.empty:
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    if deleted_df is not None:
        if deleted is not None:
            raise ValueError("pass deleted OR deleted_df, not both")
        return _topk_join_path(index, q, deleted_df,
                               float(stats["avgdl"]) or 1.0)
    if q["df"].sum() <= DRIVER_POSTINGS_MAX:
        return index.spark.createDataFrame(
            _driver_topk(index, q, stats, deleted), RESULT_SCHEMA)
    return _spark_topk(index, q, stats, deleted).orderBy("query_id", "rank")
