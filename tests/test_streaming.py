"""Incremental (Structured Streaming) index: two micro-batches ==
one batch build, exactly-once segment writes, compaction parity."""

import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.corpus import gen_corpus_pdf
from elasticsearch_nlp_classifier_spark.corpus.doc_ids import assign_doc_ids
from elasticsearch_nlp_classifier_spark.index.blocks import (
    build_physical_index,
)
from elasticsearch_nlp_classifier_spark.index.deletes import delete_docs
from elasticsearch_nlp_classifier_spark.query.wand import wand_topk
from elasticsearch_nlp_classifier_spark.streaming import (
    StreamingPhysicalIndex,
    compact_segments,
    incremental_index_stream,
)
from elasticsearch_nlp_classifier_spark.streaming.incremental import (
    CORPUS_SCHEMA,
    _write_segment,
)

QUERY = pd.DataFrame(
    {"query_id": [1, 2], "query_text": ["import def self", "the error test"]}
)

#: a doc the analyzer keeps no token of, last of batch 1 in key order:
#: it takes a doc id but writes no posting
TOKENLESS = {"repo": "org4/repo0", "path": "zz_empty.txt",
             "commit": "0" * 40, "lang": "go", "content": ""}


def _corpus():
    """120 generated docs plus TOKENLESS, in key order."""
    pdf = pd.concat([gen_corpus_pdf(120), pd.DataFrame([TOKENLESS])])
    return pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)


def _codecs(path):
    """Compression codecs named in the footers of the parquet files
    under ``path``."""
    out = set()
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                out |= {md.row_group(i).column(j).compression
                        for i in range(md.num_row_groups)
                        for j in range(md.num_columns)}
    return out


@pytest.fixture(scope="module")
def corpus_batches(spark, tmp_path_factory):
    """Two batches whose concatenation order equals global key order:
    batch 1 repos sort before batch 2 repos."""
    pdf = _corpus()
    b1, b2 = pdf.iloc[:71], pdf.iloc[71:]
    assert b1.iloc[-1]["content"] == ""
    src = tmp_path_factory.mktemp("stream_src")
    spark.createDataFrame(b1).coalesce(1).write.parquet(
        str(src / "batch1.parquet")
    )
    return spark, str(src), b2


@pytest.fixture(scope="module")
def streamed(corpus_batches, tmp_path_factory):
    spark, src, b2 = corpus_batches
    idx_dir = str(tmp_path_factory.mktemp("stream_idx") / "idx")

    # micro-batch 1
    q = incremental_index_stream(
        spark, f"{src}/*.parquet/", idx_dir, analyzer="code",
        block_size=16, salt_threshold=50,
    )
    q.awaitTermination()
    # drop batch 2 into the watched dir, resume from checkpoint
    spark.createDataFrame(b2).coalesce(1).write.parquet(
        f"{src}/batch2.parquet"
    )
    q = incremental_index_stream(
        spark, f"{src}/*.parquet/", idx_dir, analyzer="code",
        block_size=16, salt_threshold=50,
    )
    q.awaitTermination()
    return StreamingPhysicalIndex(idx_dir, spark)


@pytest.fixture(scope="module")
def batch_index(spark, tmp_path_factory):
    docs = assign_doc_ids(spark.createDataFrame(_corpus()))
    out = str(tmp_path_factory.mktemp("batch_idx") / "idx")
    return build_physical_index(
        docs, out, text_col="content", analyzer="code",
        block_size=16, salt_threshold=50,
    )


def test_two_segments_written(streamed):
    segs = streamed.blocks.select("segment").distinct().collect()
    assert {r["segment"] for r in segs} == {0, 1}
    assert _codecs(f"{streamed.path}/blocks") == {"ZSTD"}


def test_stats_match_batch_build(streamed, batch_index):
    assert streamed.corpus_stats["doc_count"] == 120
    s, b = streamed.corpus_stats, batch_index.corpus_stats
    assert s["sum_ttf"] == b["sum_ttf"]
    assert s["sum_doc_freq"] == b["sum_doc_freq"]
    got = {
        r["term"]: (r["df"], r["ttf"])
        for r in streamed.term_stats.collect()
    }
    want = {
        r["term"]: (r["df"], r["ttf"])
        for r in batch_index.term_stats.collect()
    }
    assert got == want


def test_streaming_query_matches_batch(streamed, batch_index):
    got = wand_topk(streamed, QUERY, k=10).collect()
    want = wand_topk(batch_index, QUERY, k=10).collect()
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in got] == [
        (r["query_id"], r["rank"], r["doc_id"]) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_compaction_parity(streamed, batch_index, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact") / "idx")
    jsc = streamed.spark.sparkContext._jsc
    cached = len(jsc.getPersistentRDDs())
    compact = compact_segments(streamed, out, block_size=16,
                               salt_threshold=50)
    assert len(jsc.getPersistentRDDs()) == cached
    assert _codecs(f"{out}/blocks") == {"ZSTD"}
    assert "segment" not in compact.blocks.columns
    got = wand_topk(compact, QUERY, k=10).collect()
    want = wand_topk(batch_index, QUERY, k=10).collect()
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in got] == [
        (r["query_id"], r["rank"], r["doc_id"]) for r in want
    ]


def test_compaction_keeps_tombstones(streamed, tmp_path_factory):
    """A doc tombstoned before a merge stays deleted after it: the
    compacted index answers exactly as its source does, and never with
    the deleted id (on a copy — the shared fixture stays delete-free)."""
    base = tmp_path_factory.mktemp("compact_deletes")
    src = StreamingPhysicalIndex(
        shutil.copytree(streamed.path, str(base / "src")), streamed.spark)
    victim = wand_topk(src, QUERY, k=10).collect()[0]["doc_id"]
    delete_docs(src, [victim])
    want = wand_topk(src, QUERY, k=10).collect()
    compact = compact_segments(src, str(base / "out"), block_size=16,
                               salt_threshold=50)
    got = wand_topk(compact, QUERY, k=10).collect()
    assert victim not in {r["doc_id"] for r in got}
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in got] == [
        (r["query_id"], r["rank"], r["doc_id"]) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_segmented_wand_runs_no_spark_job_after_delete(
        streamed, tmp_path_factory, spark_jobs):
    """On a segmented index with tombstones, a one-query request runs no
    Spark job, and the driver-side and mapInArrow scorers return
    identical rows with and without the tombstones (on a copy — the
    shared fixture stays delete-free)."""
    from elasticsearch_nlp_classifier_spark.analyzer import CODE
    from elasticsearch_nlp_classifier_spark.index.deletes import (
        deleted_array,
    )
    from elasticsearch_nlp_classifier_spark.query.wand import (
        _driver_topk, _query_terms, _spark_topk,
    )

    base = tmp_path_factory.mktemp("segmented_driver")
    src = StreamingPhysicalIndex(
        shutil.copytree(streamed.path, str(base / "src")), streamed.spark)
    victims = [r["doc_id"] for r in wand_topk(src, QUERY, k=3).collect()]
    delete_docs(src, victims[::2])
    for qid, text in zip(QUERY["query_id"], QUERY["query_text"]):
        one = pd.DataFrame({"query_id": [qid], "query_text": [text]})
        jobs, rows = spark_jobs(
            lambda: wand_topk(src, one, k=10).collect())
        assert rows and jobs == 0, (text, jobs)
        assert not {r["doc_id"] for r in rows} & set(victims[::2])

    pairs = sorted({(int(qid), t)
                    for qid, text in zip(QUERY["query_id"],
                                         QUERY["query_text"])
                    for t in CODE.tokenize(text)})
    stats = src.corpus_stats
    q = _query_terms(src, pairs, {qid: 10 for qid, _ in pairs},
                     stats["doc_count"])
    for deleted in (None, deleted_array(src)):
        got = _driver_topk(src, q, stats, deleted)
        want = (_spark_topk(src, q, stats, deleted).toPandas()
                .sort_values(["query_id", "rank"], ignore_index=True))
        assert len(got) == len(want) > 0
        assert got.values.tolist() == want.values.tolist()


def test_replay_is_idempotent(corpus_batches, streamed):
    """A replayed micro-batch rewrites its own segment and nothing else.
    Batch 0 goes through the segment write again after losing its
    manifests, as a crash inside its blocks write would leave it: the
    segment gets the same blocks and doc ids, segment 1 is untouched."""
    spark, src, _ = corpus_batches

    def state():
        with open(f"{streamed.path}/seg_stats/segment_0.json") as f:
            seg0 = json.load(f)
        blocks = sorted(map(tuple, streamed.blocks.select(
            "segment", "tb", "term", "salt", "block_id", "n", "first_doc",
            "last_doc").collect()))
        return seg0, blocks

    before = state()
    shutil.rmtree(f"{streamed.path}/segments/0/manifests")
    batch0 = spark.read.schema(CORPUS_SCHEMA).parquet(f"{src}/batch1.parquet")
    _write_segment(batch0, 0, streamed.path, "content", "code",
                   block_size=16, n_salts=16, salt_threshold=50)
    assert state() == before


# --- streaming exact dedup (stateful dropDuplicates family) ----------

def test_stream_dedup_across_batches(spark, tmp_path_factory):
    from elasticsearch_nlp_classifier_spark.streaming import (
        dedup_stream_job,
    )

    src = str(tmp_path_factory.mktemp("sd_src"))
    out = str(tmp_path_factory.mktemp("sd_out") / "dd")
    schema = "id BIGINT, content STRING"
    b1 = [(0, "alpha text"), (1, "bravo text"), (2, "alpha text")]
    b2 = [(3, "bravo text"), (4, "charlie text"), (5, "charlie text")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        f"{src}/b1.parquet")
    q = dedup_stream_job(spark, f"{src}/*.parquet/", out, schema)
    q.awaitTermination()
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        f"{src}/b2.parquet")
    q = dedup_stream_job(spark, f"{src}/*.parquet/", out, schema)
    q.awaitTermination()

    got = spark.read.parquet(f"{out}/data")
    rows = {(r["id"], r["content"]) for r in got.collect()}
    contents = sorted(r[1] for r in rows)
    # one survivor per distinct content, across AND within batches
    assert contents == ["alpha text", "bravo text", "charlie text"]
    # keep-FIRST-arrival: batch-1 copies win over batch-2 re-posts
    assert {r[0] for r in rows} <= {0, 1, 2, 4, 5}
    assert 3 not in {r[0] for r in rows}

    # replay with the same checkpoint: no new rows appear
    q = dedup_stream_job(spark, f"{src}/*.parquet/", out, schema)
    q.awaitTermination()
    assert spark.read.parquet(f"{out}/data").count() == 3


def test_stream_dedup_watermark_bounded_state(spark, tmp_path_factory):
    from elasticsearch_nlp_classifier_spark.streaming import (
        dedup_stream_job,
    )

    src = str(tmp_path_factory.mktemp("sdw_src"))
    out = str(tmp_path_factory.mktemp("sdw_out") / "dd")
    schema = "id BIGINT, ts TIMESTAMP, content STRING"
    rows = [
        (0, "2024-01-01 00:00:00", "alpha"),
        (1, "2024-01-01 00:01:00", "alpha"),   # dup within window
        (2, "2024-01-01 00:02:00", "bravo"),
    ]
    df = spark.createDataFrame(
        [(i, c) for i, _, c in rows], "id BIGINT, content STRING"
    )
    ts = {i: t for i, t, _ in rows}
    from pyspark.sql import functions as F2
    df = df.withColumn(
        "ts",
        F2.to_timestamp(
            F2.udf(lambda i: ts[i])(F2.col("id"))
        ),
    ).select("id", "ts", "content")
    df.coalesce(1).write.parquet(f"{src}/b1.parquet")
    q = dedup_stream_job(
        spark, f"{src}/*.parquet/", out, schema,
        ts_col="ts", watermark="10 minutes",
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{out}/data")
    assert sorted(r["content"] for r in got.collect()) == ["alpha", "bravo"]
