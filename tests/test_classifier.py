"""NB classifier parity (FIXTURES F6): engine vs pure-pandas oracle —
100% label agreement, scores to 1e-9; k-fold determinism; enricher
update-if-changed semantics (P11)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.analyzer import DEFAULT
from elasticsearch_nlp_classifier_spark.classifier import (
    accuracy,
    enrich,
    kfold_validation,
    predict_nb,
    predict_oracle,
    train_nb,
    train_oracle,
)
from elasticsearch_nlp_classifier_spark.corpus import gen_tweets_pdf


@pytest.fixture(scope="module")
def tweets_pdf():
    return gen_tweets_pdf(400)


@pytest.fixture(scope="module")
def tweets(spark, tweets_pdf):
    return spark.createDataFrame(tweets_pdf).cache()


TEXT_COLS = ["text", "keyword"]


def _persisted(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_nb_parity_with_oracle(spark, spark_jobs, tweets, tweets_pdf):
    rows = tweets_pdf.to_dict("records")
    model_o = train_oracle(rows, TEXT_COLS, "target", DEFAULT)
    want = predict_oracle(model_o, rows, TEXT_COLS, DEFAULT).sort_values("id")

    tweets.count()  # the fixture's own cache is not the round's
    cached = _persisted(spark)
    jobs, model = spark_jobs(lambda: train_nb(tweets, TEXT_COLS, "target"))
    assert jobs <= 4  # two collected aggregations
    assert model.vocab_size == len(model_o["vocab"])
    got = (
        predict_nb(model, tweets, TEXT_COLS, keep_scores=True)
        .toPandas().sort_values("id")
    )
    assert got.prediction.tolist() == want.prediction.tolist()
    np.testing.assert_allclose(
        got.score.to_numpy(), want.score.to_numpy(), atol=1e-9
    )
    accuracy(tweets, predict_nb(model, tweets, TEXT_COLS), "target")
    assert _persisted(spark) == cached  # an NB round caches nothing


def test_labeled_filter_before_training(tweets):
    """P9: rows with target='' must not contribute to the model."""
    model = train_nb(tweets, TEXT_COLS, "target")
    n_labeled = tweets.where("target != ''").count()
    assert n_labeled < 400  # fixture has a 30% unlabeled tail
    assert set(model.labels) == {"0", "1"}


def test_kfold_deterministic_and_sane(spark, tweets):
    tweets.count()
    cached = _persisted(spark)
    r1 = kfold_validation(tweets, TEXT_COLS, "target", k=3)
    r2 = kfold_validation(tweets, TEXT_COLS, "target", k=3)
    assert _persisted(spark) == cached  # the folds' cache is released
    assert r1["fold_accuracies"] == r2["fold_accuracies"]
    # disaster-vs-benign vocabulary is highly separable (15% label noise)
    assert r1["mean_accuracy"] > 0.7


def test_enrich_update_if_changed(spark, tweets):
    model = train_nb(tweets, TEXT_COLS, "target")
    preds = predict_nb(model, tweets, TEXT_COLS)
    updates = enrich(tweets, preds, "target")
    up = updates.toPandas()

    # every update differs from the existing value (null-safe '' compare)
    existing = tweets.select("id", F.col("target").alias("old")).toPandas()
    merged = up.merge(existing, on="id")
    assert (merged.target != merged.old).all()

    # unlabeled rows ('') always receive their prediction
    unlabeled_ids = set(
        r.id for r in tweets.where("target = ''").select("id").collect()
    )
    assert unlabeled_ids <= set(up.id)


def test_accuracy_metric(spark, tweets):
    model = train_nb(tweets, TEXT_COLS, "target")
    labeled = tweets.where("target != ''")
    preds = predict_nb(model, labeled, TEXT_COLS)
    acc = accuracy(labeled, preds, "target")
    assert 0.8 <= acc <= 1.0  # training-set accuracy on separable data


def test_multi_enrich_combines_targets(spark):
    """J3 (`OpenNLPMultiEnricher.java:93-163`): one model per target,
    single update row per doc, only-changed semantics per column."""
    from elasticsearch_nlp_classifier_spark.classifier import multi_enrich

    docs = spark.createDataFrame(
        [
            (1, "earthquake flood disaster", "1", "quake"),
            (2, "sunny picnic park", "0", "none"),
            (3, "flood warning storm", "1", "flood"),
            (4, "cake party balloons", "0", "none"),
            # doc 5: target empty -> excluded from training, gets
            # predictions; keyword already correct -> maybe no update
            (5, "flood earthquake disaster", "", "quake"),
        ],
        "id int, text string, target string, keyword string",
    )
    upd = multi_enrich(
        docs, ["text"], ["target", "keyword"], analyzer="simple_code"
    )
    rows = {r["id"]: r for r in upd.collect()}
    assert set(upd.columns) == {"id", "pred_target", "pred_keyword"}
    # doc 5's empty target must be filled with the disaster class
    assert rows[5]["pred_target"] == "1"
    # docs whose stored values already match predictions emit no row or
    # nulls for that column (update-if-changed)
    for r in rows.values():
        assert r["pred_target"] is not None or r["pred_keyword"] is not None
