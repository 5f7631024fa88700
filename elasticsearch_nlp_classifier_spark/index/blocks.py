"""Physical index layout: per-term docID-sorted posting blocks,
delta+varbyte compressed, with block-max metadata for WAND pruning —
the Lucene segment/skip-list layout re-created as a columnar table
(SURVEY §4.2; north rule: posting-list construction, merge, compression).

Layout table ``blocks`` (parquet, hive-partitioned by ``tb`` = term
bucket for partition pruning at query time):

    term        string   analyzed term
    salt        int      doc-range shard of a skewed term (0 for cold)
    block_id    int      ordinal within (term, salt)
    n           int      postings in block (<= block_size)
    first_doc   bigint   min docID in block
    last_doc    bigint   max docID in block
    max_tfhat   double   max_t tf/(tf + k1(1-b+b·dl/avgdl)) in block
    docs_vb     binary   varbyte(delta(docIDs))      (first absolute)
    tfs_vb      binary   varbyte(tfs)
    dls_vb      binary   varbyte(dls)

**Skew handling** (north rule: 'the'/'import'-grade terms): terms with
df > ``salt_threshold`` are split into ``n_salts`` *contiguous docID
ranges* (salt = docID·S/(N+1)), so one reducer never owns a hot term's
whole posting list.  Range (not hash) salting keeps each salt's blocks
doc-disjoint and ordered, so the per-term global block sequence is just
(salt ASC, block_id ASC) — the "merge" of salted runs is a metadata-only
concatenation, never a posting re-sort (SURVEY §4.3).

**One writer**: ``write_index`` is the only code that writes index
data — a bulk build, its bucket resume, a streaming segment and both
compactions all hand it a ``LogicalIndex``.  A bulk index is
``blocks/``, ``term_stats/`` and ``corpus_stats.json``; segment ``s`` of
a streaming-built index is ``blocks/segment=s/``,
``seg_term_stats/segment=s/`` and ``seg_stats/segment_s.json``, with its
manifests and lineage under ``segments/s/``.

**Checkpoint/resume**: every term bucket written gets a JSON manifest
(blocks, postings, payload bytes, an order-independent checksum of the
logical block content, wall time).  A re-run over a target that already
has manifests writes the missing buckets one at a time and skips the
rest — kill-and-rerun produces a byte-identical logical index (tested).
Lineage of every stage is appended to ``lineage.jsonl``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import LogicalIndex, build_logical_index
from .codec import delta_encode, vb_encode

K1 = 1.2
B = 0.75

BLOCK_SCHEMA = (
    "term string, salt int, block_id int, n int, first_doc bigint, "
    "last_doc bigint, max_tfhat double, docs_vb binary, tfs_vb binary, "
    "dls_vb binary"
)

#: positional layout (``with_positions=True``): one extra payload,
#: ``pos_vb`` = varbyte(gaps(positions)) concatenated posting-by-posting
#: within the block; per-posting segment lengths are the block's tfs, so
#: no extra offsets are stored (Lucene's .prx-style layout).
BLOCK_SCHEMA_POS = BLOCK_SCHEMA + ", pos_vb binary"

#: offsets layout (``with_offsets=True``, round 3): two more payloads
#: in the same .prx-style stream shape — ``off_vb`` =
#: varbyte(gaps(start_offsets)) (starts ascend within a posting because
#: positions do; first value absolute per posting) and ``len_vb`` =
#: varbyte(end−start per occurrence).  Term-vector char spans
#: (`TermVectorQuery.java:60-76` ``offsets`` flag) decode straight from
#: the blocks, no re-tokenization.
BLOCK_SCHEMA_POS_OFF = BLOCK_SCHEMA_POS + ", off_vb binary, len_vb binary"

#: shuffle-side schema: ``tid`` (collision-checked xxhash64 of the
#: term) instead of the term string — the encode exchange carries a
#: fixed 8-byte key per posting, not a variable string; strings are
#: re-attached to the 128×-smaller blocks table by a dictionary join.
BLOCK_SCHEMA_TID = "tid bigint, " + BLOCK_SCHEMA.split(", ", 1)[1]
BLOCK_SCHEMA_TID_POS = BLOCK_SCHEMA_TID + ", pos_vb binary"
BLOCK_SCHEMA_TID_POS_OFF = BLOCK_SCHEMA_TID_POS + \
    ", off_vb binary, len_vb binary"


def _tid_expr(col, seed: int):
    """The shuffle key: xxhash64 of the term (chained with ``seed``
    when a collision forced a re-draw — see ``_choose_tid_seed``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c) if seed == 0 else F.xxhash64(c, F.lit(seed))


def _choose_tid_seed(terms: DataFrame, max_attempts: int = 3) -> int:
    """Smallest seed whose xxhash64 is injective on this vocabulary —
    one vocabulary-sized aggregation per attempt (almost always one:
    collision odds are ~V²/2⁶⁴).  Exactness guarantee: a collision
    would silently merge two terms' postings, so the hashed shuffle key
    is only ever used under this check.

    ``terms`` must be DISTINCT on ``term`` (both call sites are: the
    term_stats table is grouped by term; the fallback derives it via
    ``.distinct()``) — that makes the left side of the injectivity
    check a plain ``count(*)`` instead of a second vocabulary-sized
    ``countDistinct`` shuffle (the check runs inside every build, so
    its constant cost is Amdahl-serial weight at high core counts).
    ``write_index`` checks seed 0 itself and calls this only on a
    collision."""
    for seed in range(max_attempts):
        r = terms.agg(
            F.count(F.lit(1)).alias("nt"),
            F.countDistinct(_tid_expr("term", seed)).alias("nh"),
        ).collect()[0]
        if r["nt"] == r["nh"]:
            return seed
    raise RuntimeError(
        f"no collision-free xxhash64 seed in {max_attempts} attempts "
        "(vocabulary adversarial?) — cannot use hashed shuffle keys"
    )


def _encode_group(pdf: pd.DataFrame, block_size: int, avgdl: float) -> pd.DataFrame:
    """Encode one (term, salt) posting run into blocks, one block and one
    posting at a time — the byte-level reference the vectorized
    ``_encode_arrow`` is tested against.  Input columns: term, salt,
    doc_id, tf, dl, and optionally the per-posting lists positions,
    start_offsets and end_offsets."""
    pdf = pdf.sort_values("doc_id")
    docs = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)
    tfhat = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    term = pdf["term"].iloc[0]
    salt = int(pdf["salt"].iloc[0])

    def gaps(values) -> bytes:  # one posting's stream, first value absolute
        return vb_encode(delta_encode(values).astype(np.uint64))

    rows = []
    for b, s in enumerate(range(0, len(docs), block_size)):
        e = min(s + block_size, len(docs))
        d = docs[s:e]
        blk = pdf.iloc[s:e]
        row = {
            "term": term,
            "salt": salt,
            "block_id": b,
            "n": e - s,
            "first_doc": int(d[0]),
            "last_doc": int(d[-1]),
            "max_tfhat": float(tfhat[s:e].max()),
            "docs_vb": vb_encode(delta_encode(d).astype(np.uint64)),
            "tfs_vb": vb_encode(tfs[s:e].astype(np.uint64)),
            "dls_vb": vb_encode(dls[s:e].astype(np.uint64)),
        }
        if "positions" in pdf.columns:
            row["pos_vb"] = b"".join(gaps(p) for p in blk["positions"])
        if "start_offsets" in pdf.columns:
            row["off_vb"] = b"".join(gaps(o) for o in blk["start_offsets"])
            row["len_vb"] = b"".join(
                vb_encode((np.asarray(en, dtype=np.int64)
                           - np.asarray(st, dtype=np.int64)).astype(np.uint64))
                for st, en in zip(blk["start_offsets"], blk["end_offsets"]))
        rows.append(row)
    return pd.DataFrame(rows)


def encode_blocks(
    postings: DataFrame,
    avgdl: float,
    doc_count: int,
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
    shuffle_partitions: int | None = None,
    hot_terms: list[str] | None = None,
    term_dict: DataFrame | None = None,
    tid_seed: int | None = None,
) -> DataFrame:
    """postings (doc_id, term, tf, dl) -> blocks DataFrame.

    Hot terms (df > salt_threshold) get range-salted across ``n_salts``
    reducers; the repartition(tid, salt) is the build's only wide
    dependency.  Encoding runs as ONE ``mapInArrow`` per shuffle
    partition over (tid, salt, doc_id)-sorted rows — groups are
    contiguous, and a carry buffer stitches groups that straddle Arrow
    batch boundaries, so there is no per-group Arrow round-trip (54k
    tiny applyInPandas groups were the original build bottleneck).

    **The exchange carries no strings**: the shuffle key is ``tid``
    (xxhash64 of the term, injectivity-checked on the vocabulary with
    seed re-draw — exact, never probabilistic) and tf/dl travel as
    int32, so a posting row through the wide dependency is ~24 fixed
    bytes instead of ~40+ with a variable string.  Term strings are
    re-attached to the blocks table (1/block_size the rows of
    postings) by a dictionary join that AQE turns into a broadcast
    for any normal vocabulary; a 10⁹-term vocabulary degrades to a
    blocks-sized shuffle join, still ≪ the postings exchange.

    ``hot_terms``: precollected df>threshold term list (tiny — Zipf
    head only); pass it when term_stats already exists to avoid an
    extra aggregation job, else it is computed here.
    ``term_dict``: distinct-term DataFrame (column ``term``) when the
    caller already has one (e.g. a cached term_stats); it is read twice,
    by the seed check and by the string re-attachment.  Derived here
    otherwise."""
    if hot_terms is None:
        hot_terms = [
            r[0]
            for r in postings.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > salt_threshold)
            .select("term")
            .collect()
        ]
    range_salt = (
        (F.col("doc_id") - 1) * n_salts / F.lit(doc_count + 1)
    ).cast("int")
    if hot_terms:
        salt = F.when(F.col("term").isin(hot_terms), range_salt).otherwise(
            F.lit(0)
        )
    else:
        salt = F.lit(0)
    p = postings.withColumn("salt", salt)

    if term_dict is None:
        term_dict = postings.select("term").distinct()
    if tid_seed is None:
        tid_seed = _choose_tid_seed(term_dict)

    with_positions = "positions" in postings.columns
    with_offsets = "start_offsets" in postings.columns
    if with_offsets and not with_positions:
        # the .prx-shaped offset streams are segmented by cum_tf, which
        # _encode_arrow derives from the positions column — without it
        # the declared BLOCK_SCHEMA_TID_POS_OFF and the emitted batch
        # would mismatch at runtime deep inside Arrow; fail fast instead
        raise ValueError(
            "postings carry start_offsets without positions; the block "
            "layout stores offsets as position-segmented streams — build "
            "with positions (build_logical_index(with_offsets=True) does)"
        )
    cols = [
        _tid_expr("term", tid_seed).alias("tid"),
        F.col("salt"),
        F.col("doc_id"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
    ] + ([F.col("positions")] if with_positions else []) \
      + ([F.col("start_offsets"), F.col("end_offsets")]
         if with_offsets else [])
    # 2 waves per core: the (tid, salt) hash distribution is even in
    # expectation but not per-partition; twice as many partitions halves
    # the straggler tail at a negligible task-overhead cost.
    n_shuffle = shuffle_partitions or (
        postings.sparkSession.sparkContext.defaultParallelism * 2
    )
    sorted_p = (
        p.select(*cols)
        .repartition(n_shuffle, "tid", "salt")
        .sortWithinPartitions("tid", "salt", "doc_id")
    )

    out_schema = (
        BLOCK_SCHEMA_TID_POS_OFF if with_offsets
        else BLOCK_SCHEMA_TID_POS if with_positions
        else BLOCK_SCHEMA_TID
    )

    def encode_partition(batches):
        """mapInArrow: the hot path never materializes Python objects —
        terms stay in Arrow string buffers (group detection via C++
        ``dictionary_encode``), numerics go straight to numpy views, and
        the varbyte payload columns are built zero-copy from the
        segmented encoder's (buffer, offsets) pairs.  The earlier
        mapInPandas version allocated ~1 Python str per posting on the
        way in and ~3 bytes objects per block on the way out (26M + 8M
        allocations per 240k-doc build) — pure allocator churn, and the
        reason the encode stage scaled at 1.4× for 4× cores on a
        memory-bandwidth-capped box.

        Groups (term, salt) may straddle Arrow batch boundaries: hold
        back the trailing group of each batch and stitch (accumulated
        as a list — a hot salted run spanning many batches stays O(n),
        not O(n²) re-concat)."""
        import pyarrow as pa

        pending: list[pa.Table] = []  # un-flushed rows, trailing groups only
        for rb in batches:
            if rb.num_rows == 0:
                continue
            t = pa.Table.from_batches([rb])
            cut = _last_group_start(t, pending[-1] if pending else None)
            if cut is None:
                pending.append(t)  # same single group continues
                continue
            head = pa.concat_tables(pending + [t.slice(0, cut)]) \
                if (pending or cut) else None
            pending = [t.slice(cut)]
            if head is not None and head.num_rows:
                yield _encode_arrow(head.combine_chunks(), block_size, avgdl)
        if pending:
            t = pa.concat_tables(pending).combine_chunks()
            if t.num_rows:
                yield _encode_arrow(t, block_size, avgdl)

    encoded = sorted_p.mapInArrow(encode_partition, out_schema)
    # string re-attachment: vocabulary-sized dict vs blocks-sized left
    # side; no join hint — AQE broadcasts any normal vocabulary, and a
    # too-big dict correctly degrades to a shuffle join of the (small)
    # blocks table
    dict_df = term_dict.select(
        _tid_expr("term", tid_seed).alias("tid"), "term"
    )
    out_cols = ["term", "salt", "block_id", "n", "first_doc",
                "last_doc", "max_tfhat", "docs_vb", "tfs_vb", "dls_vb"]
    if with_positions:
        out_cols.append("pos_vb")
    if with_offsets:
        out_cols += ["off_vb", "len_vb"]
    return encoded.join(dict_df, "tid").select(*out_cols)


def _last_group_start(t, prev) -> int | None:
    """Start index (within ``t``) of the trailing (tid, salt) group of
    ``prev``+``t``, or None when every row continues a single group —
    the batch-stitch contract of ``encode_partition``.  ``t`` must be a
    single-batch Table (one chunk per column); rows are (tid, salt,
    doc_id)-sorted so groups are contiguous."""
    tids = t.column("tid").chunk(0).to_numpy()
    salts = t.column("salt").chunk(0).to_numpy()
    change = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])
    nz = np.flatnonzero(change)
    if len(nz):
        return int(nz[-1] + 1)
    if prev is None:
        return None
    same = (
        int(tids[0]) == prev.column("tid")[-1].as_py()
        and int(salts[0]) == prev.column("salt")[-1].as_py()
    )
    return None if same else 0


def _binary_from_segments(buf: bytes, off: np.ndarray):
    """Arrow binary array over ``len(off)-1`` segments of ``buf`` —
    zero-copy: the varbyte buffer becomes the array's data buffer
    directly, no per-segment bytes objects."""
    import pyarrow as pa

    off32 = np.ascontiguousarray(off, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(off) - 1,
        [None, pa.py_buffer(off32), pa.py_buffer(buf)],
    )


def _encode_arrow(t, block_size: int, avgdl: float):
    """Encode all contiguous (tid, salt) groups of a sorted Arrow
    table into one blocks RecordBatch, byte-identical to running
    ``_encode_group`` per group (tested): block boundaries by arithmetic
    on group offsets, ``reduceat`` aggregates and ONE segmented-varbyte
    pass per payload column, instead of a per-group encoder loop.  The
    group key is the fixed-width ``tid`` (no string materialization at
    all — group detection is an int64 vector compare) and payload
    columns are built zero-copy from the segmented buffers."""
    import pyarrow as pa

    from .codec import vb_encode_segmented

    tids = t.column("tid").chunk(0).to_numpy()
    docs = t.column("doc_id").chunk(0).to_numpy()
    tfs = t.column("tf").chunk(0).to_numpy()
    dls = t.column("dl").chunk(0).to_numpy()
    salts = t.column("salt").chunk(0).to_numpy()
    n = len(docs)

    gchange = np.empty(n, dtype=bool)
    gchange[0] = True
    gchange[1:] = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])
    gid = np.cumsum(gchange) - 1
    gstart_idx = np.flatnonzero(gchange)
    pos = np.arange(n, dtype=np.int64) - gstart_idx[gid]

    bstarts = np.flatnonzero(pos % block_size == 0)
    bends = np.concatenate((bstarts[1:], [n]))

    tfhat = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = docs[0]
    np.subtract(docs[1:], docs[:-1], out=deltas[1:])
    deltas[bstarts] = docs[bstarts]  # first value of a block is absolute

    docs_buf, docs_off = vb_encode_segmented(deltas.astype(np.uint64), bstarts)
    tfs_buf, tfs_off = vb_encode_segmented(tfs.astype(np.uint64), bstarts)
    dls_buf, dls_off = vb_encode_segmented(dls.astype(np.uint64), bstarts)

    arrays = [
        pa.array(tids[bstarts], type=pa.int64()),
        pa.array(salts[bstarts].astype(np.int32), type=pa.int32()),
        pa.array((pos[bstarts] // block_size).astype(np.int32),
                 type=pa.int32()),
        pa.array((bends - bstarts).astype(np.int32), type=pa.int32()),
        pa.array(docs[bstarts], type=pa.int64()),
        pa.array(docs[bends - 1], type=pa.int64()),
        pa.array(np.maximum.reduceat(tfhat, bstarts), type=pa.float64()),
        _binary_from_segments(docs_buf, docs_off),
        _binary_from_segments(tfs_buf, tfs_off),
        _binary_from_segments(dls_buf, dls_off),
    ]
    names = ["tid", "salt", "block_id", "n", "first_doc", "last_doc",
             "max_tfhat", "docs_vb", "tfs_vb", "dls_vb"]
    if "positions" in t.column_names:
        # flat position stream in posting order (zero-copy list
        # flatten); gap-encode with reset at each posting start, then
        # ONE segmented varbyte pass with block boundaries at cum_tf
        cum_tf = np.concatenate(([0], np.cumsum(tfs)))
        pstarts = cum_tf[:-1]

        def _gap_stream(col_name: str):
            flat = t.column(col_name).chunk(0).flatten().to_numpy() \
                .astype(np.int64)
            deltas_ = np.empty(len(flat), dtype=np.int64)
            if len(flat):
                deltas_[0] = flat[0]
                np.subtract(flat[1:], flat[:-1], out=deltas_[1:])
                nonempty = pstarts[pstarts < len(flat)]
                deltas_[nonempty] = flat[nonempty]
            return flat, deltas_

        _, pdeltas = _gap_stream("positions")
        pos_buf, pos_off = vb_encode_segmented(
            pdeltas.astype(np.uint64), cum_tf[bstarts]
        )
        arrays.append(_binary_from_segments(pos_buf, pos_off))
        names.append("pos_vb")
        if "start_offsets" in t.column_names:
            # same .prx-shaped streams for char spans: start-offset
            # gaps (ascending within a posting because positions are)
            # and per-occurrence span lengths (end − start, raw)
            flat_s, sdeltas = _gap_stream("start_offsets")
            flat_e = t.column("end_offsets").chunk(0).flatten() \
                .to_numpy().astype(np.int64)
            off_buf, off_off = vb_encode_segmented(
                sdeltas.astype(np.uint64), cum_tf[bstarts]
            )
            len_buf, len_off = vb_encode_segmented(
                (flat_e - flat_s).astype(np.uint64), cum_tf[bstarts]
            )
            arrays.append(_binary_from_segments(off_buf, off_off))
            names.append("off_vb")
            arrays.append(_binary_from_segments(len_buf, len_off))
            names.append("len_vb")
    return pa.RecordBatch.from_arrays(arrays, names)


N_TERM_BUCKETS = 16


def term_bucket(col, n_buckets: int = N_TERM_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def term_buckets(spark: SparkSession, terms, n_buckets: int) -> dict:
    """{term: tb} computed in the driver, equal to ``term_bucket``:
    Spark's own XXH64 (seed 42, the ``xxhash64`` default) over the
    term's UTF-8 bytes, called through the JVM gateway, then pmod
    ``n_buckets`` (Python's ``%`` of a positive modulus is pmod).  No
    Spark job."""
    jvm = spark.sparkContext._jvm
    xxh64 = jvm.org.apache.spark.sql.catalyst.expressions.XXH64
    utf8 = jvm.org.apache.spark.unsafe.types.UTF8String
    return {
        t: int(xxh64.hashUTF8String(
            utf8.fromBytes(bytearray(t.encode("utf-8"))), 42)) % n_buckets
        for t in terms
    }


#: the blocks columns BM25 scoring reads (a positional index also
#: carries ``pos_vb``, which scoring never needs)
SCORE_COLUMNS = ["term", "block_id", "n", "first_doc", "last_doc",
                 "max_tfhat", "docs_vb", "tfs_vb", "dls_vb"]


@dataclass
class PhysicalIndex:
    """Query surface over an index directory.  The index is segmented
    (streaming-built, one segment per micro-batch) when ``seg_stats/``
    exists: its term stats are then the sums over ``seg_term_stats`` and
    its corpus stats the sums over the segments' stats files.  Blocks of
    different segments are docID-disjoint, so block-max WAND stays exact
    without a cross-segment merge."""

    path: str
    spark: SparkSession

    @property
    def segmented(self) -> bool:
        return os.path.isdir(f"{self.path}/seg_stats")

    @property
    def blocks(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/blocks")

    @property
    def term_stats(self) -> DataFrame:
        if not self.segmented:
            return self.spark.read.parquet(f"{self.path}/term_stats")
        return self.spark.read.parquet(f"{self.path}/seg_term_stats") \
            .groupBy("term").agg(F.sum("df").alias("df"),
                                 F.sum("ttf").alias("ttf"))

    @property
    def committed_segments(self) -> list[int]:
        """Ids of the segments that have a stats file — the segments
        ``corpus_stats`` sums (a segment's stats file is written last)."""
        return sorted(
            int(fn[len("segment_"):-len(".json")])
            for fn in os.listdir(f"{self.path}/seg_stats")
            if fn.startswith("segment_") and fn.endswith(".json")
        )

    @property
    def corpus_stats(self) -> dict:
        if not self.segmented:
            with open(f"{self.path}/corpus_stats.json") as f:
                return json.load(f)
        segs = []
        for s in self.committed_segments:
            with open(f"{self.path}/seg_stats/segment_{s}.json") as f:
                segs.append(json.load(f))
        out = {k: v for k, v in (segs[0] if segs else {}).items()
               if k in ("has_positions", "has_offsets", "n_buckets")}
        for k in ("doc_count", "sum_ttf", "sum_doc_freq"):
            out[k] = sum(s[k] for s in segs)
        out["avgdl"] = (out["sum_ttf"] / out["doc_count"]
                        if out["doc_count"] else 0.0)
        return out

    @property
    def has_positions(self) -> bool:
        return bool(self.corpus_stats.get("has_positions"))

    @property
    def has_offsets(self) -> bool:
        return bool(self.corpus_stats.get("has_offsets"))

    @property
    def n_buckets(self) -> int:
        """Term buckets the blocks are partitioned by (``tb``)."""
        return int(self.corpus_stats.get("n_buckets", N_TERM_BUCKETS))

    def term_stats_for(self, terms: list[str]) -> dict:
        """{term: (df, tb)} for query terms, with a per-index cache —
        ``(None, None)`` for vocabulary misses (negative-cached too).

        Term stats are immutable for an index generation (tombstone
        deletes don't rewrite df, matching Lucene-until-merge
        semantics), so repeated query terms never re-probe: a query
        batch whose terms were all seen before costs ZERO stats jobs —
        the working set of query terms is tiny next to the vocabulary,
        which is why this is a cache and not a preload.

        A probe runs no Spark job: ``term_stats/`` (or each committed
        segment's ``seg_term_stats``, summed) is read with pyarrow, the
        ``term`` filter skipping row groups by their min/max, and ``tb``
        comes from ``term_buckets``."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        cache = self.__dict__.setdefault("_term_stats_cache", {})
        missing = sorted(t for t in set(terms) if t not in cache)
        if missing:
            files = self.parquet_files("term_stats")
            found = {}
            if files:
                agg = (
                    ds.dataset(files, format="parquet")
                    .to_table(columns=["term", "df"],
                              filter=pc.field("term").isin(missing))
                    .group_by("term").aggregate([("df", "sum")])
                )
                found = dict(zip(agg.column("term").to_pylist(),
                                 agg.column("df_sum").to_pylist()))
            tbs = term_buckets(self.spark, found, self.n_buckets)
            for t in missing:
                cache[t] = ((int(found[t]), tbs[t]) if t in found
                            else (None, None))
        out = {t: cache[t] for t in set(terms)}
        if len(cache) > 1_000_000:  # bound driver memory
            cache.clear()
            cache.update(out)  # current batch stays resolvable
        return out

    def parquet_files(self, table: str, sub: str = "") -> list[str]:
        """Data files of ``table`` (``blocks`` or ``term_stats``) under
        its subdirectory ``sub`` (e.g. ``tb=3``): of each committed
        segment when the index is segmented (``seg_term_stats`` for the
        term stats)."""
        if self.segmented:
            table = "seg_term_stats" if table == "term_stats" else table
            dirs = [f"{self.path}/{table}/segment={s}/{sub}"
                    for s in self.committed_segments]
        else:
            dirs = [f"{self.path}/{table}/{sub}"]
        return [os.path.join(d, f) for d in dirs if os.path.isdir(d)
                for f in sorted(os.listdir(d)) if f.endswith(".parquet")]

    def read_blocks(self, terms: list[str], buckets: list[int]):
        """The scoring columns of the blocks of ``terms`` (whose term
        buckets are ``buckets``) as a pyarrow Table, read in the driver:
        only the files under those buckets' ``tb=`` directories are
        opened, and the ``term`` filter skips row groups by their
        min/max."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        files = [f for b in buckets
                 for f in self.parquet_files("blocks", f"tb={b}")]
        if not files:
            return None
        return ds.dataset(files, format="parquet").to_table(
            columns=SCORE_COLUMNS, filter=pc.field("term").isin(terms))

    def logical_postings(self, blocks_where=None) -> DataFrame:
        """Decode blocks back to (doc_id, term, tf, dl[, positions]) —
        integrity test surface (full-decode == pre-compression
        postings).  ``blocks_where`` (a Column) prunes the block scan
        BEFORE decode — e.g. a ``first_doc <= id <= last_doc`` range
        probe hits parquet min/max stats and decodes only the spanning
        blocks (the more-like-this doc→terms path)."""
        import pyarrow  # noqa: F401  (arrow batches)
        from .codec import segmented_delta_decode, vb_decode

        with_pos = self.has_positions
        with_off = self.has_offsets

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
                    cols = {
                        "doc_id": docs,
                        "term": r.term,
                        "tf": tfs,
                        "dl": vb_decode(r.dls_vb).astype(np.int64),
                    }
                    cuts = np.cumsum(tfs)[:-1]
                    if with_pos:
                        flat = segmented_delta_decode(
                            vb_decode(r.pos_vb).astype(np.int64), tfs
                        )
                        cols["positions"] = np.split(flat, cuts)
                    if with_off:
                        starts = segmented_delta_decode(
                            vb_decode(r.off_vb).astype(np.int64), tfs
                        )
                        lens = vb_decode(r.len_vb).astype(np.int64)
                        cols["start_offsets"] = np.split(starts, cuts)
                        cols["end_offsets"] = np.split(starts + lens,
                                                       cuts)
                    outs.append(pd.DataFrame(cols))
                yield pd.concat(outs, ignore_index=True)

        schema = "doc_id bigint, term string, tf bigint, dl bigint"
        if with_pos:
            schema += ", positions array<bigint>"
        if with_off:
            schema += (", start_offsets array<bigint>"
                       ", end_offsets array<bigint>")
        src = self.blocks
        if blocks_where is not None:
            src = src.where(blocks_where)
        return src.mapInPandas(decode, schema)


def _lineage(path: str, stage: str, **metrics) -> None:
    rec = {"stage": stage, **metrics}
    with open(f"{path}/lineage.jsonl", "a") as f:
        f.write(json.dumps(rec) + "\n")


def _payload_cols(columns) -> list[str]:
    return (
        ["docs_vb", "tfs_vb", "dls_vb"]
        + (["pos_vb"] if "pos_vb" in columns else [])
        + (["off_vb", "len_vb"] if "off_vb" in columns else [])
    )


def _block_hash_dec(payload_cols: list[str]):
    """Per-block content hash folded to decimal(38,0).  Bucket checksum
    = SUM of these — order-independent, so it is invariant to task
    scheduling; collision-negligible for integrity/resume-identity
    purposes.  A bucket written alone (the resume path) reports the
    checksum it gets when written with every other bucket.

    xxhash64 over (key fields, payload columns), not sha256: the old
    sha256 was already truncated to 15 hex digits (~60 bits) before
    summing, so a 64-bit xxhash64 is the same effective strength for
    an integrity checksum while being pure codegen at ~50× the
    throughput — the hash ran over every payload byte of every block
    inside the write pass, where it was a measurable slice of the
    worst-scaling stage."""
    # signed 64-bit hash values summed as decimal(38,0): never
    # overflows at any row count; sign carries no meaning in a checksum
    return F.xxhash64(
        "term", "salt", "block_id", "n", "first_doc", "last_doc",
        *payload_cols,
    ).cast("decimal(38,0)")


def _payload_bytes(payload_cols: list[str]):
    return sum((F.length(c) for c in payload_cols[1:]),
               F.length(payload_cols[0]))


#: Parquet write options for the blocks table.  The payload columns are
#: already varbyte-packed, so a heavy codec buys little; zstd level 1
#: still halves the table (tf/dl byte runs are highly repetitive) at
#: ~memcpy speed, and the JNI buffer pool reuses compressor scratch
#: buffers instead of allocating per page — without it, per-page direct
#: ByteBuffer churn cost ~40% of the whole encode+write stage wall
#: (measured: snappy 26 s vs pooled zstd-1 15 s for the same 32-core
#: write; sizes 141 MB snappy / 103 MB zstd-1 / 270 MB uncompressed).
BLOCKS_WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.compression.codec.zstd.level": "1",
    "parquet.compression.codec.zstd.bufferPool.enabled": "true",
}


def write_index(
    logical: LogicalIndex,
    out_path: str,
    segment: dict | None = None,
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
    n_buckets: int = N_TERM_BUCKETS,
    fail_after_bucket: int | None = None,
) -> None:
    """Write ``logical`` as index data under ``out_path``: the blocks,
    the term stats, a stats dict and bucket manifests.

    ``segment``: None writes a bulk index; otherwise it holds the
    segment's own entries of its stats file (``segment`` id,
    ``doc_id_offset``, ``max_doc_id``) and the data goes to that
    segment's directories (module docstring).  A segment owns its
    directories, so writing it again (a replayed micro-batch) replaces
    that segment and nothing else.

    Every pass reads the cached postings and term stats:

    1. the term-stats write.  An ``Observation`` on it yields n_terms,
       sum_doc_freq and sum_ttf; the doc count comes from the
       tokenize-stage observation of ``logical`` when it has one (it
       fires inside this write, which materializes the postings cache),
       else from one ``countDistinct`` job;
    2. hot terms and the tid seed from ONE aggregation over the cached
       term stats;
    3. the blocks: ONE shuffle→encode→sort→write pass over every bucket,
       whose bucket manifests come from an ``observe`` (per-bucket
       conditional aggregates on a CollectMetrics node — no second scan,
       no cache).  The local ``sortWithinPartitions(tb, term, …)`` groups
       each task's rows by bucket directory (≤ n_buckets files per task)
       and keeps row groups term-ordered, so the WAND scan's ``term
       isin`` min/max row-group skip works on the written files; it also
       satisfies the partitioned writer's required ordering, so Spark
       inserts no second sort.  When the target already has manifests,
       or ``fail_after_bucket`` is set, the same pass runs once per
       missing bucket instead — the resume path after a mid-write
       failure.  ``fail_after_bucket=n`` raises after the run's
       (n+1)-th bucket (resume tests only)."""
    from pyspark.sql import Observation

    t0 = time.time()
    spark = logical.postings.sparkSession
    if segment is None:
        blocks_dir, ts_dir = f"{out_path}/blocks", f"{out_path}/term_stats"
        stats_file, meta_dir = f"{out_path}/corpus_stats.json", out_path
    else:
        sid = segment["segment"]
        blocks_dir = f"{out_path}/blocks/segment={sid}"
        ts_dir = f"{out_path}/seg_term_stats/segment={sid}"
        stats_file = f"{out_path}/seg_stats/segment_{sid}.json"
        meta_dir = f"{out_path}/segments/{sid}"
    manifest_dir = f"{meta_dir}/manifests"
    os.makedirs(manifest_dir, exist_ok=True)
    existing = {
        int(f.split("_")[1].split(".")[0])
        for f in os.listdir(manifest_dir)
        if f.startswith("bucket_")
    }

    postings = logical.postings.cache()
    ts = logical.term_stats.cache()
    try:
        # cores-many part files (not a fixed tiny coalesce: a 4-task
        # write is identical serial weight at every cluster size)
        t = time.time()
        obs_ts = Observation("ts_stats")
        (
            ts.observe(
                obs_ts,
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("df").alias("sdf"),
                F.sum("ttf").alias("sttf"),
            )
            .coalesce(max(4, spark.sparkContext.defaultParallelism))
            .write.mode("overwrite").options(**BLOCKS_WRITE_OPTIONS)
            .parquet(ts_dir)
        )
        svals = obs_ts.get
        _lineage(meta_dir, "ts_write", wall_s=round(time.time() - t, 2))
        t = time.time()
        dc_obs = logical.pop_doc_count_observation()
        if dc_obs is not None:
            doc_count = int(dc_obs.get["dc"] or 0)
        else:
            doc_count = int(postings.agg(
                F.countDistinct("doc_id").alias("dc")
            ).collect()[0]["dc"] or 0)
        _lineage(meta_dir, "stats_aggs", wall_s=round(time.time() - t, 2))
        sum_ttf = int(svals["sttf"] or 0)
        stats = {
            "doc_count": doc_count,
            "sum_ttf": sum_ttf,
            "sum_doc_freq": int(svals["sdf"] or 0),
            "avgdl": (sum_ttf / doc_count) if doc_count else 0.0,
            "has_positions": "positions" in postings.columns,
            "has_offsets": "start_offsets" in postings.columns,
            "n_buckets": n_buckets,
            **(segment or {}),
        }
        _lineage(meta_dir, "postings", rows=stats["sum_doc_freq"],
                 wall_s=round(time.time() - t0, 2))
        # ONE aggregation over the cached stats: the hot terms and
        # _choose_tid_seed's seed-0 injectivity check; seeds are re-drawn
        # only on a collision
        r = ts.agg(
            F.count(F.lit(1)).alias("nt"),
            F.countDistinct(_tid_expr("term", 0)).alias("nh"),
            F.collect_list(F.when(F.col("df") > salt_threshold,
                                  F.col("term"))).alias("hot"),
        ).collect()[0]
        hot_terms = sorted(r["hot"])
        _lineage(meta_dir, "stats", terms=int(svals["n_terms"] or 0),
                 hot_terms=len(hot_terms))
        # the cached stats table IS the vocabulary — without it
        # encode_blocks re-derives the dict via a full distinct-shuffle
        # over the postings exchange
        term_dict = ts.select("term")
        tid_seed = 0 if r["nt"] == r["nh"] else _choose_tid_seed(term_dict)
        enc_kw = dict(avgdl=stats["avgdl"] or 1.0, doc_count=doc_count,
                      block_size=block_size, n_salts=n_salts,
                      salt_threshold=salt_threshold, hot_terms=hot_terms,
                      term_dict=term_dict, tid_seed=tid_seed)

        def write_buckets(buckets: list[int]) -> None:
            tb0 = time.time()
            whole = len(buckets) == n_buckets
            part = postings if whole else postings.where(
                term_bucket(F.col("term"), n_buckets) == buckets[0])
            blocks = encode_blocks(part, **enc_kw).withColumn(
                "tb", term_bucket(F.col("term"), n_buckets))
            pc = _payload_cols(blocks.columns)
            enriched = (
                blocks.withColumn("_h", _block_hash_dec(pc))
                .withColumn("_pb", _payload_bytes(pc))
            )
            obs = Observation("bucket_manifests")
            aggs = []
            for b in buckets:
                cond = F.col("tb") == b
                aggs += [
                    F.count(F.when(cond, 1)).alias(f"blocks_{b}"),
                    F.sum(F.when(cond, F.col("n"))).alias(f"postings_{b}"),
                    F.sum(F.when(cond, F.col("_pb"))).alias(f"bytes_{b}"),
                    F.sum(F.when(cond, F.col("_h"))).alias(f"hsum_{b}"),
                ]
            out = (
                enriched.observe(obs, *aggs)
                .drop("_h", "_pb")
                .sortWithinPartitions("tb", "term", "salt", "block_id")
            )
            if whole:
                out.write.mode("overwrite").options(**BLOCKS_WRITE_OPTIONS) \
                    .partitionBy("tb").parquet(blocks_dir)
            else:
                out.drop("tb").write.mode("overwrite") \
                    .options(**BLOCKS_WRITE_OPTIONS) \
                    .parquet(f"{blocks_dir}/tb={buckets[0]}")
            wall = time.time() - tb0
            vals = obs.get
            for b in buckets:
                nblocks = int(vals[f"blocks_{b}"] or 0)
                manifest = {
                    "bucket": b,
                    "blocks": nblocks,
                    "postings": int(vals[f"postings_{b}"] or 0),
                    "payload_bytes": int(vals[f"bytes_{b}"] or 0),
                    "checksum": str(vals[f"hsum_{b}"] or 0),
                    "wall_s": round(wall if nblocks else 0.0, 2),
                }
                with open(f"{manifest_dir}/bucket_{b}.json", "w") as f:
                    json.dump(manifest, f)
                _lineage(meta_dir, "blocks_bucket", **manifest)

        if existing or fail_after_bucket is not None:
            todo = [b for b in range(n_buckets) if b not in existing]
            for i, b in enumerate(todo):
                write_buckets([b])
                if fail_after_bucket is not None and i >= fail_after_bucket:
                    raise RuntimeError(f"injected failure after bucket {b}")
        else:
            write_buckets(list(range(n_buckets)))

        os.makedirs(os.path.dirname(stats_file), exist_ok=True)
        with open(stats_file, "w") as f:
            json.dump(stats, f)
        _lineage(meta_dir, "build_done", wall_s=round(time.time() - t0, 2),
                 postings=stats["sum_doc_freq"])
    finally:
        postings.unpersist()
        ts.unpersist()


def build_physical_index(
    docs: DataFrame,
    out_path: str,
    text_col: str = "content",
    analyzer: str = "code",
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
    n_buckets: int = N_TERM_BUCKETS,
    fail_after_bucket: int | None = None,
    logical: LogicalIndex | None = None,
    with_positions: bool = False,
    with_offsets: bool = False,
) -> PhysicalIndex:
    """Bulk build: ``build_logical_index`` of ``docs``, written by
    ``write_index`` (which resumes a partially-written ``out_path``).

    ``logical``: a prebuilt logical index to write instead; only the
    benchmark's traced run still passes one (``perfbench/workloads.py``
    times the two halves apart) — other code calls ``write_index``."""
    if logical is None:
        logical = build_logical_index(
            docs, text_col, analyzer, with_positions=with_positions,
            with_offsets=with_offsets)
    write_index(logical, out_path, block_size=block_size, n_salts=n_salts,
                salt_threshold=salt_threshold, n_buckets=n_buckets,
                fail_after_bucket=fail_after_bucket)
    return PhysicalIndex(out_path, docs.sparkSession)


def index_stats(index: PhysicalIndex) -> dict:
    """ES ``_stats``-style index report: docs/terms/postings counts,
    on-disk bytes per component, block/bucket layout, and compression
    ratio (varbyte payload bytes vs 8-byte-int equivalent).  One
    metadata-only aggregation over the blocks table plus a filesystem
    walk — no posting decode."""
    import os as _os

    def _du(p: str) -> int:
        total = 0
        for root, _, files in _os.walk(p):
            total += sum(
                _os.path.getsize(_os.path.join(root, f)) for f in files
            )
        return total

    agg = index.blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.countDistinct("tb").alias("n_buckets"),
        F.sum("n").alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
        F.sum(F.length("docs_vb")).alias("docs_vb_bytes"),
        F.sum(F.length("tfs_vb")).alias("tfs_vb_bytes"),
    ).collect()[0]
    cs = index.corpus_stats
    payload = int(agg["docs_vb_bytes"]) + int(agg["tfs_vb_bytes"])
    return {
        "doc_count": cs["doc_count"],
        "n_terms": int(agg["n_terms"]),
        "n_postings": int(agg["n_postings"]),
        "n_blocks": int(agg["n_blocks"]),
        "n_buckets": int(agg["n_buckets"]),
        "bytes_blocks": _du(f"{index.path}/blocks"),
        "bytes_term_stats": _du(f"{index.path}/seg_term_stats"
                                if index.segmented
                                else f"{index.path}/term_stats"),
        "varbyte_payload_bytes": payload,
        "compression_ratio": round(
            (int(agg["n_postings"]) * 16) / max(1, payload), 3
        ),
        "has_positions": index.has_positions,
    }
