"""Incremental index maintenance via Structured Streaming.

The reference is batch-only (SURVEY §2.8) — its scan-and-scroll is a
point-in-time cursor, not a stream.  What the north rule *does* demand
is incremental, resumable index builds; this module supplies the
streaming-native form on top of the same index writer:

- ``incremental_index_stream``: ``readStream`` over a growing corpus
  directory → analyzer → postings → ``index.blocks.write_index`` → one
  new **segment** per micro-batch (Lucene's segment model mapped onto a
  parquet partition column).  Each batch writes only its own
  ``blocks/segment=<batch_id>`` and ``seg_term_stats/segment=<batch_id>``
  directories and its ``seg_stats`` file, so a replayed batch replaces
  its own segment and nothing else — the Structured Streaming
  checkpoint gives exactly-once index state.
- ``StreamingPhysicalIndex``: an alias of ``PhysicalIndex``, which
  sums the segments' term/corpus stats at query time (they are
  Zipf-head small) whenever the index has ``seg_stats/``.
- ``compact_segments``: the Lucene background merge — every segment's
  postings, decoded, go through the same writer into a fresh
  single-segment index; every posting is kept and the ``deletes/``
  tombstones carry over unchanged.

Scale shape: a micro-batch touches only its own rows; the only global
state is the (tiny) per-segment stats tables, never the posting data.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.blocks import PhysicalIndex, write_index
from ..index.build import LogicalIndex, build_logical_index

CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)

#: the older name, still imported by callers such as perfbench
StreamingPhysicalIndex = PhysicalIndex


def _next_doc_id_offset(index_dir: str, batch_id: int) -> int:
    """Highest doc_id of the segments before ``batch_id`` (from their
    stats files) — a replayed batch gets the ids it got the first time."""
    segs_dir = f"{index_dir}/seg_stats"
    if not os.path.isdir(segs_dir):
        return 0
    hi = 0
    for fn in os.listdir(segs_dir):
        with open(f"{segs_dir}/{fn}") as f:
            s = json.load(f)
        if s["segment"] < batch_id:
            hi = max(hi, s["max_doc_id"])
    return hi


def _write_segment(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str,
    analyzer: str,
    block_size: int,
    n_salts: int,
    salt_threshold: int,
) -> None:
    n_docs = batch_df.count()
    if not n_docs:
        return
    offset = _next_doc_id_offset(index_dir, batch_id)

    from ..corpus.doc_ids import assign_doc_ids

    # every row is numbered, tokenless ones too, so the next segment
    # starts after offset + n_docs whatever the analyzer keeps
    docs = assign_doc_ids(batch_df).withColumn(
        "doc_id", F.col("doc_id") + F.lit(offset)
    )
    write_index(
        build_logical_index(docs, text_col, analyzer), index_dir,
        segment={"segment": int(batch_id), "doc_id_offset": offset,
                 "max_doc_id": offset + n_docs},
        block_size=block_size, n_salts=n_salts,
        salt_threshold=salt_threshold,
    )


def incremental_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    text_col: str = "content",
    analyzer: str = "code",
    schema: str = CORPUS_SCHEMA,
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the
    incremental indexer over a growing parquet directory.  Returns the
    ``StreamingQuery``; the caller owns ``awaitTermination``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_segment(batch_df, batch_id, index_dir, text_col, analyzer,
                       block_size, n_salts, salt_threshold)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{index_dir}/_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_segments(
    index: PhysicalIndex,
    out_path: str,
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
) -> PhysicalIndex:
    """Lucene-style merge: all segments -> one fresh canonical index
    (global block sizes restored, stats folded into the base layout).

    Tombstoned postings are kept, and so is the ``deletes/`` side table
    that masks them: stats keep counting deleted docs, exactly as
    before the merge (Lucene-until-merge semantics), so the compacted
    index answers every query as its source does."""
    write_index(
        LogicalIndex.from_postings(index.logical_postings()), out_path,
        block_size=block_size, n_salts=n_salts,
        salt_threshold=salt_threshold,
    )
    shutil.rmtree(f"{out_path}/deletes", ignore_errors=True)
    if os.path.isdir(f"{index.path}/deletes"):
        shutil.copytree(f"{index.path}/deletes", f"{out_path}/deletes")
    return PhysicalIndex(out_path, index.spark)
