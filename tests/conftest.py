import os

import pytest

# Opt in to the sandbox-VM session tuning (RAM local dir, raw local FS,
# pre-touched heap) for the test suite; library defaults stay stock.
os.environ.setdefault("SPARK_GRAFT_SANDBOX", "1")


@pytest.fixture(scope="session")
def spark():
    from elasticsearch_nlp_classifier_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      app_name="pytest")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def corpus_sf_tiny(spark, tmp_path_factory):
    """200-doc corpus (FIXTURES F1 sf-tiny) with doc_ids, written+reloaded
    through parquet so tests exercise the real source path."""
    from elasticsearch_nlp_classifier_spark.corpus import (
        assign_doc_ids,
        write_corpus,
    )

    path = str(tmp_path_factory.mktemp("corpus") / "sf_tiny")
    write_corpus(spark, 200, path, partitions=8)
    docs = spark.read.parquet(f"{path}/corpus_docs.parquet")
    docs = assign_doc_ids(docs).cache()
    docs.count()
    return {"docs": docs, "path": path}


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns (number of Spark jobs it started, its result)."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run
