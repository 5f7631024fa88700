"""Physical-plan assertions: the scale contract, pinned.

Correctness tests prove the operators return the right rows; these
prove the PLANS are the ones that survive a 100× scale-up — filters
reach the parquet scan, the index's hive partitioning actually prunes,
small sides broadcast, the build has exactly one wide dependency, and
no scale-path operator falls back to row-at-a-time Python
(BatchEvalPython).  A regression here is invisible to result-equality
tests but catastrophic at 100 TB.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.index.blocks import (
    build_physical_index,
)
from elasticsearch_nlp_classifier_spark.index.build import (
    build_logical_index,
)

SF = "/root/testdata/sf0.001"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def physical(spark, corpus_sf_tiny, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx") / "phys")
    return build_physical_index(
        corpus_sf_tiny["docs"], out, block_size=16,
    )


def test_filter_and_projection_reach_parquet_scan(spark, tmp_path):
    # read a private copy: if another test has .cache()d the shared
    # sf0.001 path, Spark's cache manager would swap this scan for an
    # InMemoryRelation and there'd be no FileScan to assert on
    import shutil

    p = str(tmp_path / "docs_plan.parquet")
    shutil.copy(f"{SF}/documents.parquet", p)
    docs = (
        spark.read.parquet(p)
        .where(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    ps = plan(docs)
    # predicate pushed into the scan, not applied post-read
    assert "PushedFilters" in ps
    pushed = ps.split("PushedFilters:")[1].splitlines()[0].replace(" ", "")
    assert "LessThan(doc_id,100)" in pushed
    # column pruning: the scan schema carries only the projected columns
    read_schema = ps.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema


def test_blocks_partition_pruning_on_term_bucket(physical):
    """The blocks table is hive-partitioned by tb; a tb predicate must
    show up as a PartitionFilter (file-level pruning), not a post-scan
    Filter — this is what makes query cost ∝ touched buckets."""
    pruned = physical.blocks.where(F.col("tb") == 1)
    p = plan(pruned)
    part = p.split("PartitionFilters:")[1].splitlines()[0]
    assert "tb" in part
    # term-level predicates push into parquet row-group stats
    by_term = physical.blocks.where(F.col("term") == "import")
    p2 = plan(by_term)
    pushed = p2.split("PushedFilters:")[1].splitlines()[0]
    assert "term" in pushed


def _mapinarrow_scorer(index, text):
    """The ``mapInArrow`` WAND scorer's frame for one query: a
    single-query ``wand_topk`` is scored in the driver and has no Spark
    plan, so the plan of the executor path is taken directly."""
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        get_analyzer,
    )
    from elasticsearch_nlp_classifier_spark.query.wand import (
        _query_terms, _spark_topk,
    )

    stats = index.corpus_stats
    pairs = [(0, t) for t in sorted(set(get_analyzer("code").tokenize(text)))]
    q = _query_terms(index, pairs, {0: 5}, stats["doc_count"])
    return _spark_topk(index, q, stats), q


def test_wand_scan_prunes_partitions_and_pushes_terms(physical):
    """The WAND query path's block read must carry BOTH the tb
    partition filter (file pruning) and a term IN (...) pushed filter
    (row-group skipping) — VERDICT J4's contract."""
    res, _ = _mapinarrow_scorer(physical, "import tokenize stream")
    p = plan(res)
    assert "PartitionFilters" in p
    part = p.split("PartitionFilters:")[1].splitlines()[0]
    assert "tb" in part
    pushed = p.split("PushedFilters:")[1].splitlines()[0].replace(" ", "")
    # multi-term queries push In(term, [...]); if only one query term
    # survives analysis/vocab it degenerates to EqualTo — both are the
    # row-group-skipping shape
    assert "In(term" in pushed or "EqualTo(term" in pushed


def test_small_sides_broadcast(spark, physical):
    """Dimension-sized sides must broadcast, not shuffle the corpus."""
    res, _ = _mapinarrow_scorer(physical, "import tokenize stream")
    p = plan(res)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_driver_wand_opens_only_query_buckets(physical, monkeypatch):
    """The driver-side WAND read opens only files under the query
    terms' ``tb=`` directories."""
    import os

    import pandas as pd
    import pyarrow.dataset as ds

    from elasticsearch_nlp_classifier_spark.query.wand import wand_topk

    _, q = _mapinarrow_scorer(physical, "import tokenize stream")
    opened = []
    real = ds.dataset

    def recording(source, *a, **kw):
        opened.extend(source)
        return real(source, *a, **kw)

    monkeypatch.setattr(ds, "dataset", recording)
    wand_topk(physical, pd.DataFrame(
        {"query_id": [0], "query_text": ["import tokenize stream"]}), k=5)
    blocks = [f for f in opened if f"{os.sep}blocks{os.sep}" in f]
    assert blocks
    want = {f"tb={b}" for b in q["tb"]}
    assert len(want) < physical.n_buckets
    assert {os.path.basename(os.path.dirname(f)) for f in blocks} <= want


def test_scale_path_operators_have_no_row_python(spark):
    """No scale-path operator may contain BatchEvalPython (row-at-a-
    time Python UDF).  ArrowEvalPython (vectorized pandas UDF) and
    mapInPandas are the sanctioned Python escapes."""
    from elasticsearch_nlp_classifier_spark.operators.dedup import (
        minhash_signatures, shingle_table, simhash_signatures,
    )
    from elasticsearch_nlp_classifier_spark.operators.domains import (
        domain_stats,
    )
    from elasticsearch_nlp_classifier_spark.operators.textstats import (
        document_fingerprints, lang_id, quality_stats,
    )
    from elasticsearch_nlp_classifier_spark.operators.webclean import (
        clean_web_docs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plans = {
        "quality": plan(quality_stats(docs, "text"), "simple"),
        "lang_id": plan(docs.select(
            "doc_id", lang_id(F.col("text")).alias("lang")), "simple"),
        "fingerprints": plan(
            document_fingerprints(docs, "text", "doc_id"), "simple"),
        "shingles": plan(shingle_table(docs, "text", "doc_id", 5), "simple"),
        "minhash": plan(minhash_signatures(docs, "text", "doc_id"), "simple"),
        "simhash": plan(simhash_signatures(docs, "text", "doc_id"), "simple"),
        "domains": plan(domain_stats(docs.withColumn(
            "url", F.concat(F.lit("http://h"), F.col("doc_id"),
                            F.lit(".org/p"))), url_col="url"), "simple"),
        "webclean": plan(clean_web_docs(docs, "text"), "simple"),
    }
    for name, p in plans.items():
        assert "BatchEvalPython" not in p, name
    # pure-builtin paths additionally stay fully JVM-side (higher-order
    # array expressions are codegen-fallback but still JVM, so the
    # contract is "no Python evaluator", not "WholeStageCodegen")
    # (webclean's Unicode-NFC step is an Arrow-batched UDF by design —
    # it stays in the BatchEvalPython-free set above only)
    for name in ("quality", "lang_id", "fingerprints", "shingles",
                 "domains"):
        assert "ArrowEvalPython" not in plans[name], name
        assert "EvalPython" not in plans[name], name
        assert "mapinpandas" not in plans[name].lower(), name


def test_index_build_has_single_wide_dependency(corpus_sf_tiny):
    """Postings-plan shuffle budget: the explode plan of a JVM analyzer
    has exactly ONE Exchange — the map-side-combined (doc_id, term)
    partial agg; the in-task plans of a Python analyzer and of a
    positions build have ZERO (postings assembled inside the tokenize
    task).  Any extra Exchange means the pipeline regressed to
    shuffle-per-stage."""
    # the fixture's docs are cached; the InMemoryRelation dump replays
    # the FIXTURE's own lineage (incl. its doc-id range partition), so
    # only the plan above the cache boundary is the build's own
    docs = corpus_sf_tiny["docs"]
    for want, idx in (
        (1, build_logical_index(docs)),
        (0, build_logical_index(docs, analyzer="default")),
        (0, build_logical_index(docs, with_positions=True)),
    ):
        p = plan(idx.postings, mode="simple")
        assert p.split("InMemoryTableScan")[0].count("Exchange") == want, p


def test_batch3_scoring_paths_are_jvm_only(spark):
    """Round-2 batch-3 scale paths: maxsim late interaction, anomaly
    detection, exact-kNN distance expression, regression closed form
    and JVM prediction, graph-explore wave — all pure built-ins (no
    Python evaluator of any kind in the plan)."""
    from elasticsearch_nlp_classifier_spark.index import (
        build_logical_index,
    )
    from elasticsearch_nlp_classifier_spark.operators.anomaly import (
        anomaly_detect,
    )
    from elasticsearch_nlp_classifier_spark.operators.outliers import (
        knn_table,
    )
    from elasticsearch_nlp_classifier_spark.operators.regression import (
        fit_simple,
        predict_linear,
    )
    from elasticsearch_nlp_classifier_spark.query.late_interaction import (
        maxsim_topk,
        split_vectors,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    mv = split_vectors(emb, "embedding", 8).select("vec_id", "vecs")
    queries = mv.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("vecs").alias("qvecs")
    )
    idx = build_logical_index(docs, text_col="text",
                              analyzer="simple_code",
                              doc_id_col="doc_id")
    from elasticsearch_nlp_classifier_spark.query.graph import _wave

    plans = {
        "maxsim": plan(
            maxsim_topk(mv, queries, k=5, id_col="vec_id"), "simple"),
        "anomaly": plan(
            anomaly_detect(ev, detector="count", by_field="event_type"),
            "simple"),
        "knn_exact": plan(knn_table(emb, k=3), "simple"),
        "regr_simple": plan(fit_simple(ev, "user_id", "value"), "simple"),
        "regr_predict": plan(
            predict_linear(
                emb.select("vec_id",
                           F.col("embedding").alias("features")),
                {"beta": [0.1] * 64, "intercept": 0.5}, "features"),
            "simple"),
        "graph_wave": plan(
            _wave(idx.postings, idx.term_stats, 500, ["data"], 5, 2,
                  True), "simple"),
    }
    for name, p in plans.items():
        assert "EvalPython" not in p, name
        assert "mapinpandas" not in p.lower(), name
