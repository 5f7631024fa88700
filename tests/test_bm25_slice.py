"""§7.2 minimum end-to-end slice: synthetic corpus → analyzer → exploded
postings → brute-force BM25 → top-10, asserted rank-identical (scores to
atol 1e-9) against the pure-pandas float64 oracle.  Plus the reference's
index-stat invariants (`ElasticsearchTest.java:140-149`)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.analyzer import CODE
from elasticsearch_nlp_classifier_spark.corpus import gen_corpus_pdf, queries_pdf
from elasticsearch_nlp_classifier_spark.corpus.fixtures import QUERIES
from elasticsearch_nlp_classifier_spark.index import build_logical_index
from elasticsearch_nlp_classifier_spark.query import bm25_oracle, bm25_topk


@pytest.fixture(scope="module")
def index(spark, corpus_sf_tiny):
    idx = build_logical_index(corpus_sf_tiny["docs"])
    idx.postings = idx.postings.cache()
    idx.postings.count()
    return idx


@pytest.fixture(scope="module")
def oracle_tokens():
    pdf = gen_corpus_pdf(200)
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    return {
        i + 1: CODE.tokenize(content)
        for i, content in enumerate(pdf["content"])
    }


def test_index_stat_invariants(index):
    # ttf >= df >= 1 per term; tf >= 1 per posting
    bad = (
        index.term_stats.where(
            (F.col("ttf") < F.col("df")) | (F.col("df") < 1)
        ).count()
    )
    assert bad == 0
    assert index.postings.where(F.col("tf") < 1).count() == 0
    # sum_ttf == Σ tf; doc_count == docs with >=1 token
    s = index.postings.agg(F.sum("tf")).collect()[0][0]
    assert s == index.corpus_stats["sum_ttf"]
    assert index.corpus_stats["doc_count"] == 200
    assert index.corpus_stats["sum_doc_freq"] == index.postings.count()


def test_index_matches_oracle_tokens(index, oracle_tokens):
    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in index.postings.collect()
    }
    want = {}
    for doc_id, toks in oracle_tokens.items():
        for t in toks:
            want[(doc_id, t)] = want.get((doc_id, t), 0) + 1
    assert got == want


def test_bm25_matches_oracle(index, spark, oracle_tokens):
    queries = spark.createDataFrame(queries_pdf())
    got = bm25_topk(index, queries).toPandas()
    want = bm25_oracle(oracle_tokens, QUERIES, CODE)

    assert len(got) == len(want), (len(got), len(want))
    merged = got.merge(
        want, on=["query_id", "rank"], suffixes=("_got", "_want"), how="outer"
    )
    mismatch = merged[merged.doc_id_got != merged.doc_id_want]
    assert mismatch.empty, mismatch.head(20)
    np.testing.assert_allclose(
        merged.score_got.to_numpy(), merged.score_want.to_numpy(), atol=1e-9
    )


def test_bm25_absent_term_empty(index, spark):
    q = spark.createDataFrame(
        pd.DataFrame([{"query_id": 8, "query_text": "zzz_not_in_corpus", "k": 10}])
    )
    assert bm25_topk(index, q).count() == 0


def test_bm25_vs_duckdb(index, spark):
    """Independent cross-engine check: same formula in DuckDB SQL over the
    exploded postings (pre-analyzed, so no tokenizer dependency)."""
    import duckdb

    postings_pdf = index.postings.toPandas()
    n = index.corpus_stats["doc_count"]
    avgdl = index.corpus_stats["avgdl"]
    con = duckdb.connect()
    con.register("postings", postings_pdf)
    want = con.sql(f"""
        WITH qt AS (SELECT unnest(['def','self','import']) AS term),
        stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
        contrib AS (
          SELECT p.doc_id,
                 ln(1 + ({n} - s.df + 0.5)/(s.df + 0.5))
                   * p.tf / (p.tf + 1.2*(0.25 + 0.75*p.dl/{avgdl})) AS c
          FROM postings p JOIN qt USING (term) JOIN stats s USING (term)
        )
        SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """).df()

    q = spark.createDataFrame(
        pd.DataFrame([{"query_id": 4, "query_text": "def self import", "k": 10}])
    )
    got = bm25_topk(index, q).toPandas()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    np.testing.assert_allclose(got.score.to_numpy(), want.score.to_numpy(), atol=1e-9)


@pytest.fixture(scope="module")
def docs80(spark):
    from elasticsearch_nlp_classifier_spark.corpus.doc_ids import (
        assign_doc_ids,
    )

    docs = assign_doc_ids(spark.createDataFrame(gen_corpus_pdf(80)))
    rows = [(r["doc_id"], r["content"])
            for r in docs.select("doc_id", "content").collect()]
    return docs, rows


def test_postings_plans_match_oracle(docs80):
    """The no-payload postings plan — codegen explode for the JVM
    analyzers, `tokenize_postings` for Python chains — equals the
    per-doc tokenize + Counter oracle row for row."""
    from test_offsets import oracle_postings

    docs, rows = docs80
    for analyzer in ("code", "simple_code", "default", "simple_code_edge"):
        got = sorted(map(tuple, build_logical_index(
            docs, "content", analyzer).postings.collect()))
        assert got == oracle_postings(rows, analyzer), analyzer


def test_msearch_batch_matches_individual_topk(index):
    """_msearch = one batched job whose per-query results are identical
    to running each search alone, with per-search size respected."""
    from elasticsearch_nlp_classifier_spark.query import msearch

    spark = index.postings.sparkSession
    # skip QUERIES[1] ("the"): all-stopword query -> no hits
    qtexts = [QUERIES[0]["query_text"], QUERIES[2]["query_text"],
              QUERIES[3]["query_text"]]
    searches = [
        {"query": qtexts[0], "size": 3},
        {"query": qtexts[1], "size": 5},
        qtexts[2],                        # bare string -> default k
    ]
    out = msearch(index, searches, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    # per-search size caps the result; fewer hits than size is legal
    # (qtexts[1] is a unique term with one matching doc)
    assert len(by_q[0]) == 3
    assert len(by_q[1]) <= 5 and len(by_q[1]) >= 1
    assert len(by_q[2]) == 10
    for qid, qtext in enumerate(qtexts):
        solo = bm25_topk(
            index,
            spark.createDataFrame([(0, qtext)],
                                  "query_id int, query_text string"),
            k=len(by_q[qid]),
        ).collect()
        assert [(r.rank, r.doc_id) for r in solo] == \
            [(rk, d) for rk, d, _ in sorted(by_q[qid])]


def test_msearch_empty_rejected(index):
    from elasticsearch_nlp_classifier_spark.query import msearch

    with pytest.raises(ValueError, match="empty"):
        msearch(index, [])


def test_tokenize_postings_arrow_parity(docs80):
    """Round 4: `tokenize_postings` (batch one-finditer tokenize +
    mapInArrow transport) must equal the per-doc oracle for the
    batchable JVM analyzers AND for a per-doc Python chain — called
    directly, since `build_logical_index` routes JVM analyzers to the
    explode plan."""
    from test_offsets import oracle_postings

    from elasticsearch_nlp_classifier_spark.index.build import (
        tokenize_postings,
    )

    docs, rows = docs80
    for analyzer in ("code", "simple_code", "default"):
        got = sorted(map(tuple, tokenize_postings(
            docs, "content", analyzer).collect()))
        assert got == oracle_postings(rows, analyzer), analyzer


def test_python_analyzer_build_and_wand(spark, tmp_path):
    """A Python-chain analyzer (`tokenize_postings` plan, doc count by
    explicit aggregation) feeds a working physical build whose WAND
    top-k equals brute-force BM25 over the same postings."""
    from elasticsearch_nlp_classifier_spark.corpus.doc_ids import (
        assign_doc_ids,
    )
    from elasticsearch_nlp_classifier_spark.index.blocks import (
        build_physical_index,
    )
    from elasticsearch_nlp_classifier_spark.query.wand import wand_topk

    docs = assign_doc_ids(spark.createDataFrame(gen_corpus_pdf(120)))
    idx = build_physical_index(
        docs, str(tmp_path / "pidx"), analyzer="default", block_size=16,
        n_buckets=4)
    assert idx.corpus_stats["doc_count"] == 120
    q = pd.DataFrame({"query_id": [0], "query_text": ["def import"]})
    ranked = wand_topk(idx, q, k=5, analyzer="default").toPandas()
    assert ranked["rank"].tolist() == list(range(1, 6))
    want = bm25_topk(build_logical_index(docs, "content", "default"),
                     spark.createDataFrame(q), k=5,
                     analyzer="default").toPandas()
    assert ranked["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(ranked["score"].to_numpy(),
                               want["score"].to_numpy(), atol=1e-9)
