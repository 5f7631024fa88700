"""Tombstone deletes (Lucene liveDocs contract) + fuzzy term matching
(ES ``fuzziness``).  Exactness bars: WAND over an index with deletes ==
brute-force BM25 over the live corpus only; fuzzy top-k == brute BM25
over the manually expanded term set."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.index import build_logical_index
from elasticsearch_nlp_classifier_spark.index.blocks import (
    build_physical_index,
)
from elasticsearch_nlp_classifier_spark.index.deletes import (
    compact,
    delete_docs,
    deleted_array,
    live_docs,
    mask_deleted,
)
from elasticsearch_nlp_classifier_spark.query.bm25 import bm25_topk
from elasticsearch_nlp_classifier_spark.query.fuzzy import (
    fuzzy_expand,
    fuzzy_topk,
)
from elasticsearch_nlp_classifier_spark.query.wand import wand_topk

DOCS = [
    (0, "spark engine index builds fast spark engine"),
    (1, "the spark index answers queries"),
    (2, "engine internals and index layout"),
    (3, "sparse vectors are not spark"),
    (4, "spark spark spark everywhere"),
    (5, "a document about nothing relevant"),
    (6, "index spark engine trio present"),
    (7, "zpark typo engine document"),
]

QUERIES = pd.DataFrame(
    {"query_id": [0, 1], "query_text": ["spark engine", "index"]}
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string").cache()


@pytest.fixture()
def index(spark, docs, tmp_path):
    return build_physical_index(
        docs, str(tmp_path / "idx"), text_col="text",
        analyzer="simple_code", block_size=4,
    )


def _brute(spark, docs, keep_ids=None, queries=QUERIES, k=5):
    d = docs if keep_ids is None else docs.where(
        F.col("doc_id").isin(list(keep_ids))
    )
    logical = build_logical_index(d, "text", "simple_code")
    q = spark.createDataFrame(queries)
    return bm25_topk(logical, q, k=k).toPandas()


def test_mask_deleted_unit():
    deleted = np.array([2, 5, 9], dtype=np.int64)
    docs = np.array([0, 2, 3, 5, 9, 10], dtype=np.int64)
    assert mask_deleted(docs, deleted).tolist() == [
        True, False, True, False, False, True,
    ]
    assert mask_deleted(docs, np.empty(0, dtype=np.int64)).all()


def test_wand_excludes_deleted_and_stays_exact(spark, docs, index):
    before = wand_topk(index, QUERIES, k=5, analyzer="simple_code").toPandas()
    assert 4 in set(before[before.query_id == 0].doc_id)

    delete_docs(index, [4, 0])
    assert set(deleted_array(index)) == {0, 4}

    got = wand_topk(index, QUERIES, k=5, analyzer="simple_code").toPandas()
    assert not ({0, 4} & set(got.doc_id))
    # exact vs brute-force over live docs with the SAME corpus stats:
    # stats still count deleted docs pre-compaction (Lucene behavior),
    # so compare against brute on the full logical index minus deletes
    logical = build_logical_index(docs, "text", "simple_code")
    logical.corpus_stats  # freeze stats over the FULL corpus first
    logical.postings = logical.postings.where(~F.col("doc_id").isin([0, 4]))
    want = bm25_topk(
        logical, spark.createDataFrame(QUERIES), k=5,
        analyzer="simple_code",
    ).toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False, atol=1e-12,
    )


def test_tombstone_cap_falls_back_to_anti_join(spark, docs, index,
                                               monkeypatch):
    """Over-cap tombstone backlog: deleted_array refuses the driver
    collect and WAND transparently switches to the distributed
    anti-join path with identical results (VERDICT r2 #4)."""
    from elasticsearch_nlp_classifier_spark.index import deletes as D

    delete_docs(index, [4, 0])
    # a large tombstone table of mostly-absent ids (the property-test
    # shape: the backlog is huge, the overlap with this corpus tiny)
    delete_docs(index, spark.range(1_000, 1_001_000)
                .select(F.col("id").alias("doc_id")))
    want = wand_topk(index, QUERIES, k=5, analyzer="simple_code") \
        .toPandas()

    # force the over-cap regime: collect must RAISE, not materialize
    monkeypatch.setattr(D, "TOMBSTONE_DRIVER_CAP", 100_000)
    with pytest.raises(D.TombstoneOverflowError):
        deleted_array(index)

    got = wand_topk(index, QUERIES, k=5, analyzer="simple_code") \
        .toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False, atol=1e-9,
    )
    assert not ({0, 4} & set(got.doc_id))

    # plan shape: the fallback is a LeftAnti join of decoded postings
    # against the tombstone TABLE — no driver-side tombstone array
    from elasticsearch_nlp_classifier_spark.query.wand import (
        _tombstones, topk_from_pairs,
    )

    arr, del_df = _tombstones(index, True)
    assert arr is None and del_df is not None
    plan = topk_from_pairs(
        index, [(0, "spark")], {0: 5}, deleted_df=del_df
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_pit_array_cap(spark, docs, index, monkeypatch):
    from elasticsearch_nlp_classifier_spark.index import deletes as D
    from elasticsearch_nlp_classifier_spark.index.pit import (
        open_pit, pit_deleted_array, pit_search,
    )

    delete_docs(index, [4])
    pit = open_pit(index)
    assert pit_deleted_array(pit).tolist() == [4]
    monkeypatch.setattr(D, "TOMBSTONE_DRIVER_CAP", 0)
    with pytest.raises(D.TombstoneOverflowError):
        pit_deleted_array(pit)
    # pit_search still answers (anti-join fallback), excluding doc 4
    got = pit_search(pit, "spark engine", k=5,
                     analyzer="simple_code").toPandas()
    assert 4 not in set(got.doc_id)


def test_delete_docs_accepts_dataframe(spark, index):
    ids = spark.createDataFrame([(3,)], "doc_id bigint")
    assert delete_docs(index, ids) == 1
    assert deleted_array(index).tolist() == [3]
    filtered = live_docs(
        index, spark.createDataFrame([(3,), (2,)], "doc_id bigint")
    ).toPandas()
    assert filtered.doc_id.tolist() == [2]


def test_compact_purges_tombstones(spark, docs, index, tmp_path):
    delete_docs(index, [4, 0])
    jsc = spark.sparkContext._jsc
    cached = len(jsc.getPersistentRDDs())
    idx2 = compact(index, str(tmp_path / "idx2"), block_size=4)
    assert len(jsc.getPersistentRDDs()) == cached
    remaining = set(
        idx2.logical_postings().select("doc_id").distinct().toPandas().doc_id
    )
    assert not ({0, 4} & remaining)
    # stats reset to the live corpus
    assert idx2.corpus_stats["doc_count"] == len(DOCS) - 2
    # queries over the compacted index == brute over the live corpus
    got = wand_topk(idx2, QUERIES, k=5, analyzer="simple_code").toPandas()
    want = _brute(spark, docs, keep_ids=set(range(8)) - {0, 4})
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False, atol=1e-12,
    )


def test_fuzzy_expand_finds_typo(index):
    exp = fuzzy_expand(index, "spark", max_edits=1)
    assert "spark" in exp and "zpark" in exp
    assert "engine" not in exp
    # prefix_length pins the literal prefix
    assert "zpark" not in fuzzy_expand(
        index, "spark", max_edits=1, prefix_length=1
    )


def test_fuzzy_topk_matches_manual_expansion(spark, docs, index):
    q = pd.DataFrame({"query_id": [0], "query_text": ["spark"]})
    got = fuzzy_topk(
        index, q, k=8, max_edits=1, analyzer="simple_code"
    ).toPandas()
    # doc 7 (the 'zpark' typo) is only reachable via fuzzy expansion
    assert 7 in set(got.doc_id)
    # exact contract: BM25 where the query is the full expansion set
    from elasticsearch_nlp_classifier_spark.query.wand import (
        topk_from_pairs,
    )

    exp = fuzzy_expand(index, "spark", max_edits=1)
    want = topk_from_pairs(
        index, [(0, t) for t in exp], {0: 8}
    ).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_fuzzy_respects_deletes(index):
    delete_docs(index, [7])
    q = pd.DataFrame({"query_id": [0], "query_text": ["spark"]})
    got = fuzzy_topk(
        index, q, k=8, max_edits=1, analyzer="simple_code"
    ).toPandas()
    assert 7 not in set(got.doc_id)


# ------------------------------------------------------ point-in-time (PIT)


def test_pit_freezes_tombstones(spark, index):
    from elasticsearch_nlp_classifier_spark.index.pit import (
        open_pit,
        pit_search,
    )
    from elasticsearch_nlp_classifier_spark.query.wand import wand_topk

    delete_docs(index, [4])
    pit = open_pit(index)
    before = [(r.doc_id, r.score) for r in pit_search(
        pit, "spark engine", k=5, analyzer="simple_code").collect()]

    # deletes landing AFTER open_pit are invisible through the PIT...
    delete_docs(index, [0, 6])
    again = [(r.doc_id, r.score) for r in pit_search(
        pit, "spark engine", k=5, analyzer="simple_code").collect()]
    assert again == before
    assert any(d in {0, 6} for d, _ in again)  # pre-delete docs still rank

    # ...but a live search reflects them
    live = {r.doc_id for r in wand_topk(
        index, QUERIES.iloc[:1], k=5, analyzer="simple_code").collect()}
    assert live.isdisjoint({0, 4, 6})


def test_pit_live_docs_consistent_pagination(spark, docs, index):
    from elasticsearch_nlp_classifier_spark.index.pit import (
        open_pit,
        pit_live_docs,
    )
    from elasticsearch_nlp_classifier_spark.query.search import search_after

    hits = docs.select("doc_id", F.col("doc_id").cast("double").alias("s"))
    pit = open_pit(index)  # zero deletes frozen
    page1 = search_after(
        pit_live_docs(pit, hits), after=None, sort_field="s", size=3)
    last = page1.collect()[-1]  # ids 7,6,5 (s desc) -> cursor (5.0, 5)
    delete_docs(index, [3])  # concurrent delete between pages
    page2 = search_after(
        pit_live_docs(pit, hits), after=(last.sort_value, last.id),
        sort_field="s", size=3)
    # the PIT page still contains doc 3; a fresh (non-PIT) view drops it
    assert [r.id for r in page2.collect()] == [4, 3, 2]
    fresh = search_after(
        live_docs(index, hits), after=(last.sort_value, last.id),
        sort_field="s", size=3)
    assert [r.id for r in fresh.collect()] == [4, 2, 1]


def test_pit_open_on_fresh_index_is_empty_tombstones(spark, index):
    from elasticsearch_nlp_classifier_spark.index.pit import (
        open_pit,
        pit_deleted_array,
    )

    pit = open_pit(index)
    assert pit_deleted_array(pit).size == 0
    assert pit.pit_id


def test_auto_edits_ladder():
    from elasticsearch_nlp_classifier_spark.query.fuzzy import auto_edits

    assert [auto_edits(t) for t in ["a", "of", "the", "valu", "value",
                                    "values"]] == [0, 0, 1, 1, 1, 2]
    assert auto_edits("the", "AUTO:4,8") == 0
    assert auto_edits("valuexx", "AUTO:4,8") == 1


def test_fuzzy_auto_short_tokens_stay_exact(spark, index):
    """AUTO keeps 2-char tokens exact while long tokens fuzz: a typo'd
    long token still matches, a typo'd short token matches nothing."""
    import pandas as pd

    from elasticsearch_nlp_classifier_spark.query.fuzzy import fuzzy_topk

    long_typo = pd.DataFrame(
        {"query_id": [1], "query_text": ["sprk"]})  # 4 chars -> 1 edit
    hits = fuzzy_topk(index, long_typo, k=5, max_edits="AUTO",
                      analyzer="simple_code").collect()
    assert len(hits) > 0
    short_typo = pd.DataFrame(
        {"query_id": [1], "query_text": ["th"]})    # 2 chars -> exact
    none = fuzzy_topk(index, short_typo, k=5, max_edits="AUTO",
                      analyzer="simple_code").collect()
    # 'th' is not a vocabulary term in the fixture corpus
    assert none == []


def test_fuzzy_rejects_bad_spec(spark, index):
    import pandas as pd
    import pytest as _pt

    from elasticsearch_nlp_classifier_spark.query.fuzzy import fuzzy_topk

    with _pt.raises(ValueError, match="AUTO"):
        fuzzy_topk(index, pd.DataFrame(
            {"query_id": [1], "query_text": ["x"]}),
            max_edits="2ish", analyzer="simple_code")


def test_deleted_upper_bound_reconciles_with_live_files(spark, index):
    """ADVICE r3: the no-job upper bound must track the CURRENT deletes
    file set (parquet footers), not a monotone lineage sum — duplicate
    batches inflate it only while their files exist, and clearing the
    side table restores the fast driver-array path."""
    import os
    import shutil

    from elasticsearch_nlp_classifier_spark.index.deletes import (
        deleted_count_upper_bound,
    )

    assert deleted_count_upper_bound(index) == 0
    delete_docs(index, [1, 2, 3])
    delete_docs(index, [1, 2, 3])  # duplicate batch
    ub = deleted_count_upper_bound(index)
    assert ub == 6  # footer sum over-counts dupes (safe direction)
    # compaction/cleanup removes the side table -> the bound follows
    shutil.rmtree(f"{index.path}/deletes")
    assert deleted_count_upper_bound(index) == 0
    assert os.path.exists(f"{index.path}/lineage.jsonl")  # lineage kept
