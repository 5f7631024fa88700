"""Block-max pruned BM25 top-k over the compressed index.

Variant of block-max WAND (Ding & Suel 2011 — public algorithm) adapted
to a batch engine, exact by construction:

1. **Candidate pruning at the scan**: query terms → term buckets →
   parquet *partition pruning* on ``tb``, plus a broadcast join on
   ``term`` — only the query terms' blocks are ever read.
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

Scale shape: the scoring stage is ONE ``repartition(query_id)`` →
``sortWithinPartitions`` → ``mapInArrow`` pass over the candidate
blocks, ~2 partitions per core with MANY queries per Python task.  The
earlier ``groupBy.applyInPandas`` version paid a per-*group* Arrow
round-trip + pandas materialization (~15 ms × one per query): a
480-query batch spent 7-22 s in harness overhead against ~1 s of
actual transfer+scoring, and *anti-scaled* from 8 to 32 cores.  Here
payload bytes come in as Arrow binary columns and are sliced as numpy
``uint8`` views — no per-row ``bytes`` objects, no pandas — and
per-task overhead is paid ~2×cores times per batch, not per query.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.blocks import PhysicalIndex
from ..index.codec import segmented_delta_decode, vb_decode

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
    in ``wand_topk``, so this is MBs, not the corpus."""
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
    UDFs wrap (parity-tested), and term stats come from ONE pushed-down
    ``isin`` probe of the (small) term_stats table.  The only other
    Spark job is the pruned block scan + per-query scoring — two jobs
    total per batch, regardless of query count.
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
    qdf: DataFrame,
    buckets: list[int],
    q_terms: list[str],
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
        F.col("tb").isin(buckets) & F.col("term").isin(q_terms)
    ).select("doc_id", "term", "tf", "dl")
    live = post.join(deleted_df.select("doc_id"), "doc_id", "left_anti")
    contrib = (
        F.col("idf") * F.col("tf")
        / (F.col("tf")
           + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl")
                           / F.lit(float(avgdl))))
    )
    scored = (
        live.join(F.broadcast(qdf), "term")
        .withColumn("contrib", contrib)
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

    ``deleted``: sorted tombstone array, masked inside the numpy
    scorer (the fast path — bounded by ``TOMBSTONE_DRIVER_CAP``).
    ``deleted_df``: over-cap fallback — the same exact BM25 over the
    identically-pruned block scan, but decoded to postings and
    anti-joined against the tombstone TABLE before scoring, so no
    driver-side materialization of the delete set ever happens."""
    import math

    stats = index.corpus_stats
    doc_count = stats["doc_count"]
    avgdl = float(stats["avgdl"]) or 1.0
    if not pairs:
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    terms = sorted({t for _, t in pairs})

    # job 1: tiny probe — df + term bucket for just the query terms
    # (isin pushes into the parquet scan; JVM computes the bucket
    # hash).  Cached per index generation: terms seen in an earlier
    # batch skip the job entirely (PhysicalIndex.term_stats_for).
    ts = index.term_stats_for(terms)
    df_by_term = {t: df for t, (df, _) in ts.items() if df is not None}
    tb_by_term = {t: tb for t, (_, tb) in ts.items() if tb is not None}

    q_rows = [
        {
            "query_id": qid,
            "term": t,
            "idf": math.log(
                1.0 + (doc_count - df_by_term[t] + 0.5)
                / (df_by_term[t] + 0.5)
            ),
            "k": ks[qid],
        }
        for qid, t in pairs
        if t in df_by_term
    ]
    if not q_rows:
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    buckets = sorted({int(tb_by_term[r["term"]]) for r in q_rows})

    # job 2: pruned block scan + scoring.  Two pruning layers reach the
    # parquet reader: hive partition pruning on tb, and an `isin` on
    # term — blocks are term-sorted within each bucket file, so parquet
    # row-group min/max stats skip nearly all non-candidate groups.
    q_terms = sorted({r["term"] for r in q_rows})
    blocks = (
        index.blocks.where(F.col("tb").isin(buckets))
        .where(F.col("term").isin(q_terms))
        .select("term", "block_id", "n", "first_doc", "last_doc",
                "max_tfhat", "docs_vb", "tfs_vb", "dls_vb")
        # explicit projection: a positional index also carries pos_vb,
        # which BM25 scoring never reads — keep it out of the scan
    )
    qdf = index.spark.createDataFrame(
        pd.DataFrame(q_rows, columns=["query_id", "term", "idf", "k"])
    )

    if deleted_df is not None:
        if deleted is not None:
            raise ValueError("pass deleted OR deleted_df, not both")
        return _topk_join_path(index, qdf, buckets, q_terms,
                               deleted_df, avgdl)

    cand = blocks.join(F.broadcast(qdf), "term")

    # scoring partitions: ~2 per core so stragglers (skewed queries)
    # pack, but NOT per-query — each Python task scores many queries
    n_queries = len({r["query_id"] for r in q_rows})
    nparts = max(1, min(n_queries,
                        2 * index.spark.sparkContext.defaultParallelism))
    out = (
        cand.repartition(nparts, "query_id")
        .sortWithinPartitions("query_id", "term", "first_doc")
        .mapInArrow(
            partial(_score_partition, avgdl=avgdl, doc_count=doc_count,
                    deleted=deleted),
            RESULT_SCHEMA,
        )
    )
    return out.orderBy("query_id", "rank")
