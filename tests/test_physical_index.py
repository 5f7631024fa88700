"""Compressed index: full-decode integrity (postings round-trip through
varbyte blocks incl. salted hot terms), WAND rank-identity vs the
brute-force path and the pandas oracle, and checkpoint/resume
determinism (kill after N buckets → rerun → identical logical sha)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.analyzer import CODE
from elasticsearch_nlp_classifier_spark.corpus import gen_corpus_pdf, queries_pdf
from elasticsearch_nlp_classifier_spark.corpus.fixtures import QUERIES
from elasticsearch_nlp_classifier_spark.index import build_logical_index
from elasticsearch_nlp_classifier_spark.index.blocks import (
    PhysicalIndex,
    build_physical_index,
    write_index,
)
from elasticsearch_nlp_classifier_spark.query import bm25_oracle, bm25_topk
from elasticsearch_nlp_classifier_spark.query.wand import wand_topk


@pytest.fixture(scope="module")
def logical(spark, corpus_sf_tiny):
    idx = build_logical_index(corpus_sf_tiny["docs"])
    idx.postings = idx.postings.cache()
    idx.postings.count()
    return idx


@pytest.fixture(scope="module")
def physical(spark, corpus_sf_tiny, logical, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "phys")
    # low salt threshold so hot terms actually exercise the salted path
    write_index(logical, out, block_size=16, n_salts=4, salt_threshold=50)
    return PhysicalIndex(out, spark)


def test_full_decode_integrity(physical, logical):
    got = (
        physical.logical_postings()
        .toPandas()
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )
    want = (
        logical.postings.select("doc_id", "term", "tf", "dl")
        .toPandas()
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)[got.columns]
    )
    assert len(got) == len(want)
    assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
    assert (got["term"].to_numpy() == want["term"].to_numpy()).all()
    assert (got["tf"].to_numpy() == want["tf"].to_numpy()).all()
    assert (got["dl"].to_numpy() == want["dl"].to_numpy()).all()


def test_hot_terms_are_salted(physical):
    salts = (
        physical.blocks.groupBy("term")
        .agg(F.countDistinct("salt").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    assert salts > 0  # threshold=50 on 200 docs → several hot terms

    # salted runs stay docID-disjoint and ordered per (term, salt)
    b = physical.blocks.select(
        "term", "salt", "block_id", "first_doc", "last_doc"
    ).toPandas().sort_values(["term", "salt", "block_id"])
    for (_, _), grp in b.groupby(["term", "salt"]):
        fd = grp["first_doc"].to_numpy()
        ld = grp["last_doc"].to_numpy()
        assert (fd <= ld).all()
        assert (fd[1:] > ld[:-1]).all()  # blocks strictly ordered


def test_wand_matches_bruteforce_and_oracle(spark, physical, logical):
    queries = spark.createDataFrame(queries_pdf())
    got = wand_topk(physical, queries).toPandas()
    brute = bm25_topk(logical, queries).toPandas()

    assert got[["query_id", "rank", "doc_id"]].values.tolist() == \
        brute[["query_id", "rank", "doc_id"]].values.tolist()
    np.testing.assert_allclose(
        got.score.to_numpy(), brute.score.to_numpy(), atol=1e-9
    )

    pdf = gen_corpus_pdf(200).sort_values(["repo", "path", "commit"])
    tokens = {i + 1: CODE.tokenize(c) for i, c in enumerate(pdf["content"])}
    want = bm25_oracle(tokens, QUERIES, CODE)
    assert got[["query_id", "rank", "doc_id"]].values.tolist() == \
        want[["query_id", "rank", "doc_id"]].values.tolist()
    np.testing.assert_allclose(
        got.score.to_numpy(), want.score.to_numpy(), atol=1e-9
    )


def test_checkpoint_resume_identical(spark, corpus_sf_tiny, logical, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("resume") / "a")
    out_b = str(tmp_path_factory.mktemp("resume") / "b")
    kw = dict(block_size=16, n_salts=4, salt_threshold=50, n_buckets=4)

    write_index(logical, out_a, **kw)

    # crash after 2 buckets, then resume
    with pytest.raises(RuntimeError, match="injected failure"):
        write_index(logical, out_b, fail_after_bucket=1, **kw)
    done_before = sorted(os.listdir(f"{out_b}/manifests"))
    assert len(done_before) == 2
    write_index(logical, out_b, **kw)

    sha = {}
    for out in (out_a, out_b):
        shas = []
        for mf in sorted(os.listdir(f"{out}/manifests")):
            with open(f"{out}/manifests/{mf}") as f:
                shas.append(json.load(f)["checksum"])
        sha[out] = shas
    assert sha[out_a] == sha[out_b]
    assert len(sha[out_a]) == 4

    # lineage log exists and covers every stage
    stages = [
        json.loads(line)["stage"]
        for line in open(f"{out_a}/lineage.jsonl")
    ]
    assert "postings" in stages and "build_done" in stages
    assert stages.count("blocks_bucket") == 4


def test_index_stats_report(physical):
    """_stats-style report: counts consistent with the decoded index,
    compression ratio > 1 (varbyte beats raw 8-byte ints)."""
    from elasticsearch_nlp_classifier_spark.index import index_stats

    s = index_stats(physical)
    assert s["doc_count"] == physical.corpus_stats["doc_count"]
    assert s["n_postings"] == physical.logical_postings().count()
    assert s["n_terms"] == physical.term_stats.count()
    assert s["bytes_blocks"] > 0 and s["bytes_term_stats"] > 0
    assert s["compression_ratio"] > 1.0
    assert s["n_blocks"] >= s["n_buckets"] > 0


# --- ES _reindex ------------------------------------------------------------

def test_reindex_filtered_equals_direct_build(
    spark, corpus_sf_tiny, tmp_path_factory
):
    """_reindex with a source query == building straight from the
    filtered docs: identical term_stats and corpus stats."""
    from elasticsearch_nlp_classifier_spark.index import reindex

    docs = corpus_sf_tiny["docs"]
    base = tmp_path_factory.mktemp("reix")
    ra = reindex(docs, str(base / "a"), query=F.col("lang") == "python")
    rb = build_physical_index(
        docs.where(F.col("lang") == "python"), str(base / "b")
    )
    a = sorted(map(tuple, ra.term_stats.collect()))
    b = sorted(map(tuple, rb.term_stats.collect()))
    assert a == b and len(a) > 0
    assert ra.corpus_stats == rb.corpus_stats


def test_reindex_script_and_max_docs(spark, corpus_sf_tiny, tmp_path_factory):
    """script transform runs before indexing; max_docs takes the first
    N by doc_id (deterministic)."""
    from elasticsearch_nlp_classifier_spark.index import reindex

    docs = corpus_sf_tiny["docs"]
    out = str(tmp_path_factory.mktemp("reix_s") / "idx")
    ix = reindex(
        docs, out,
        script={"content": F.concat(F.col("content"),
                                    F.lit(" zz_reindex_marker"))},
        max_docs=50,
    )
    assert ix.corpus_stats["doc_count"] == 50
    ts = {r["term"]: r["df"] for r in ix.term_stats.collect()}
    # the scripted marker token is in every surviving doc
    assert ts.get("zz_reindex_marker") == 50
    got_ids = sorted(
        r["doc_id"]
        for r in ix.logical_postings().select("doc_id").distinct().collect()
    )
    want_ids = sorted(
        r["doc_id"] for r in docs.orderBy("doc_id").limit(50).collect()
    )
    assert got_ids == want_ids


def test_reindex_filter_pushdown(spark, corpus_sf_tiny):
    """the reindex query reaches the parquet scan as a pushed filter
    (the docstring's 100 TB claim)."""
    docs = spark.read.parquet(
        f"{corpus_sf_tiny['path']}/corpus_docs.parquet"
    ).where(F.col("lang") == "python")
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(lang,python)" in plan


def test_checkpoint_resume_offsets_identical(spark, tmp_path_factory):
    """Round 4: the resume path must also be byte-identical for
    offsets indexes (off_vb/len_vb payloads ride the same per-bucket
    manifests), and the resumed index must decode to the same
    per-occurrence spans."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i % 7} gamma alpha word{i % 3}")
         for i in range(60)],
        "doc_id bigint, text string",
    )
    kw = dict(text_col="text", analyzer="simple_code", block_size=8,
              n_buckets=4, with_offsets=True)
    out_a = str(tmp_path_factory.mktemp("resoff") / "a")
    out_b = str(tmp_path_factory.mktemp("resoff") / "b")
    build_physical_index(docs, out_a, **kw)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_physical_index(docs, out_b, fail_after_bucket=1, **kw)
    build_physical_index(docs, out_b, **kw)

    sha = {}
    for out in (out_a, out_b):
        shas = []
        for mf in sorted(os.listdir(f"{out}/manifests")):
            with open(f"{out}/manifests/{mf}") as f:
                shas.append(json.load(f)["checksum"])
        sha[out] = shas
    assert sha[out_a] == sha[out_b] and len(sha[out_a]) == 4

    from elasticsearch_nlp_classifier_spark.index.blocks import (
        PhysicalIndex,
    )

    def decoded(out):
        pdf = PhysicalIndex(out, spark).logical_postings().toPandas()
        for c in ("positions", "start_offsets", "end_offsets"):
            pdf[c] = pdf[c].map(lambda a: tuple(int(x) for x in a))
        return pdf.sort_values(["doc_id", "term"]).reset_index(drop=True)

    a, b = decoded(out_a), decoded(out_b)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, check_dtype=False)


WAND_QUERIES = ["import tokenize stream", "def self return", "error",
                "class main test value"]


def _pairs(texts):
    return sorted({(i, t) for i, text in enumerate(texts)
                   for t in CODE.tokenize(text)})


def test_single_query_wand_runs_no_spark_job(physical, spark_jobs):
    """A one-query request is scored in the driver: term stats, term
    buckets, blocks and tombstones are read without a Spark job, and
    the result frame collects without one."""
    import pandas as pd

    ix = PhysicalIndex(physical.path, physical.spark)  # cold stats cache
    for i, text in enumerate(WAND_QUERIES):
        jobs, rows = spark_jobs(lambda: wand_topk(ix, pd.DataFrame(
            {"query_id": [i], "query_text": [text]}), k=5).collect())
        assert rows and jobs == 0, (text, jobs)


def test_driver_and_spark_scorers_agree(physical):
    """The driver-side scorer and the mapInArrow scorer return identical
    rows on the same pairs, with and without a tombstone array."""
    from elasticsearch_nlp_classifier_spark.query.wand import (
        _driver_topk, _query_terms, _spark_topk,
    )

    stats = physical.corpus_stats
    pairs = _pairs(WAND_QUERIES)
    q = _query_terms(physical, pairs, {i: 7 for i, _ in pairs},
                     stats["doc_count"])
    first = _driver_topk(physical, q, stats)
    for deleted in (None, np.sort(first["doc_id"].unique()[::2])):
        got = _driver_topk(physical, q, stats, deleted)
        want = (_spark_topk(physical, q, stats, deleted).toPandas()
                .sort_values(["query_id", "rank"], ignore_index=True))
        assert len(got) == len(want) > 0
        assert got.values.tolist() == want.values.tolist()
        if deleted is not None:
            assert not set(got["doc_id"]) & set(deleted)


def test_driver_term_bucket_matches_spark(spark, physical):
    """``term_buckets`` (the driver's XXH64 through the gateway) equals
    ``term_bucket`` (Spark's ``xxhash64``) over the index vocabulary plus
    non-ASCII and empty terms."""
    from elasticsearch_nlp_classifier_spark.index.blocks import (
        term_bucket, term_buckets,
    )

    vocab = [r["term"] for r in physical.term_stats.select("term").collect()]
    terms = vocab + ["", "größe", "日本語", "naïve", "😀 emoji", "a" * 300]
    want = {
        r["t"]: r["tb"]
        for r in spark.createDataFrame([(t,) for t in terms], "t string")
        .select("t", term_bucket(F.col("t"), physical.n_buckets)
                .alias("tb")).collect()
    }
    assert term_buckets(spark, terms, physical.n_buckets) == want
