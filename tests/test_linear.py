"""MaxEnt / Perceptron trainers (`classifier/linear.py`) — the
reference's non-NB trainer menu (`OpenNLPClassifier.java:27-36`).

Gates: numpy-twin exactness for the MaxEnt gradient loop, separable-
data accuracy for both trainers, determinism, tie-break semantics, and
the SQL twin used by the oracle (`predict_sql`) replayed in DuckDB.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.classifier import (
    accuracy,
    predict_linear,
    train_maxent,
    train_perceptron,
)
from elasticsearch_nlp_classifier_spark.classifier.linear import (
    hashed_features,
    predict_sql,
)

DIM = 512


@pytest.fixture(scope="module")
def labeled_docs(spark):
    """90 perfectly separable docs over 3 classes: class word planted
    per doc, shared noise words everywhere."""
    rows = []
    planted = {"alpha": "zebra", "beta": "yak", "gamma": "wolf"}
    for i in range(90):
        lab = ["alpha", "beta", "gamma"][i % 3]
        noise = f"common shared filler{i % 7} token{i % 5}"
        rows.append((i, f"{noise} {planted[lab]} {noise}", lab))
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, label string"
    ).cache()


def _np_features(spark, docs, dim):
    """Collected (_id, idx, x) → dense numpy X plus id order."""
    pdf = (
        hashed_features(docs, ["text"], dim, id_col="doc_id")
        .toPandas().sort_values(["_id", "idx"])
    )
    ids = sorted(pdf["_id"].unique())
    pos = {d: i for i, d in enumerate(ids)}
    X = np.zeros((len(ids), dim + 1))
    for _id, idx, x in pdf.itertuples(index=False):
        X[pos[_id], idx] += x
    return ids, X


def test_maxent_matches_numpy_twin(spark, labeled_docs):
    """The distributed GD loop reproduces a single-process numpy GD
    with identical hyperparameters (same init/lr/l2/iterations)."""
    iters, lr, l2 = 10, 0.5, 1e-4
    model = train_maxent(labeled_docs, ["text"], "label", dim=DIM,
                         iterations=iters, lr=lr, l2=l2)

    ids, X = _np_features(spark, labeled_docs, DIM)
    labs = {r["doc_id"]: r["label"]
            for r in labeled_docs.select("doc_id", "label").collect()}
    classes = model.labels
    Y = np.zeros((len(ids), len(classes)))
    for i, d in enumerate(ids):
        Y[i, classes.index(labs[d])] = 1.0

    W = np.zeros((DIM + 1, len(classes)))
    n = float(len(ids))
    for _ in range(iters):
        S = X @ W
        S -= S.max(axis=1, keepdims=True)
        P = np.exp(S)
        P /= P.sum(axis=1, keepdims=True)
        W -= lr * (X.T @ (P - Y) / n + l2 * W)

    assert np.allclose(model.weights, W, rtol=1e-8, atol=1e-10)


def test_maxent_separable_accuracy(spark, labeled_docs):
    model = train_maxent(labeled_docs, ["text"], "label", dim=DIM,
                         iterations=20)
    preds = predict_linear(model, labeled_docs, ["text"], id_col="doc_id")
    acc = accuracy(labeled_docs, preds, "label", "doc_id")
    assert acc >= 0.95


def test_perceptron_separable_accuracy_and_determinism(spark, labeled_docs):
    kw = dict(dim=DIM, epochs=5, id_col="doc_id")
    m1 = train_perceptron(labeled_docs, ["text"], "label", **kw)
    m2 = train_perceptron(labeled_docs, ["text"], "label", **kw)
    assert np.array_equal(m1.weights, m2.weights)  # fixed shard order

    preds = predict_linear(m1, labeled_docs, ["text"], id_col="doc_id")
    acc = accuracy(labeled_docs, preds, "label", "doc_id")
    assert acc >= 0.95


def test_predict_covers_empty_docs_and_ties(spark):
    """A doc that tokenizes to nothing still gets a prediction (bias
    row), and an all-zero score vector breaks ties to the ASC-first
    label — the reference's smallest-class-name tie rule."""
    from elasticsearch_nlp_classifier_spark.classifier.linear import (
        LinearModel,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "anything")], "doc_id bigint, text string"
    )
    model = LinearModel(
        np.zeros((DIM + 1, 2)), ["aa", "zz"], DIM, "maxent")
    out = predict_linear(model, docs, ["text"], id_col="doc_id").collect()
    assert {r["doc_id"]: r["prediction"] for r in out} == {1: "aa", 2: "aa"}


def test_predict_sql_twin_matches(spark, labeled_docs, tmp_path):
    """DuckDB replay of the predict stage from materialized features +
    long-format weights == the Spark predictions (the oracle contract)."""
    model = train_maxent(labeled_docs, ["text"], "label", dim=DIM,
                         iterations=10)
    fp = str(tmp_path / "feats.parquet")
    wp = str(tmp_path / "weights.parquet")
    hashed_features(labeled_docs, ["text"], DIM, id_col="doc_id") \
        .write.mode("overwrite").parquet(fp)
    model.weights_df(spark).write.mode("overwrite").parquet(wp)

    got = (
        predict_linear(model, labeled_docs, ["text"], id_col="doc_id")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        duckdb.sql(predict_sql(fp, wp)).df()
        .sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["doc_id", "prediction"]], want[["doc_id", "prediction"]],
        check_dtype=False,
    )


def test_trainer_comparison_table(spark, labeled_docs):
    """The reference's trainer-accuracy comparison
    (`OpenNLPClassifier.java:27-32`) re-run on one dataset: every
    trainer must beat the majority baseline."""
    from elasticsearch_nlp_classifier_spark.classifier import (
        predict_nb, train_nb,
    )

    # split mod 5 — mod 3 would be degenerate (label = doc_id % 3, so
    # fold 0 would hold the entire "alpha" class)
    train = labeled_docs.where(F.pmod("doc_id", F.lit(5)) != 0)
    test = labeled_docs.where(F.pmod("doc_id", F.lit(5)) == 0)

    nb = train_nb(train, ["text"], "label", analyzer="simple_code",
                  id_col="doc_id")
    accs = {
        "NAIVEBAYES": accuracy(
            test, predict_nb(nb, test, ["text"], analyzer="simple_code",
                             id_col="doc_id"), "label", "doc_id"),
        "MAXENT": accuracy(
            test, predict_linear(
                train_maxent(train, ["text"], "label", dim=DIM,
                             iterations=15),
                test, ["text"], id_col="doc_id"), "label", "doc_id"),
        "PERCEPTRON": accuracy(
            test, predict_linear(
                train_perceptron(train, ["text"], "label", dim=DIM,
                                 epochs=5),
                test, ["text"], id_col="doc_id"), "label", "doc_id"),
    }
    majority = 1.0 / 3.0
    for algo, acc in accs.items():
        assert acc > majority + 0.2, (algo, accs)


def test_linear_model_save_load_roundtrip(spark, labeled_docs, tmp_path):
    from elasticsearch_nlp_classifier_spark.sources import (
        load_linear_model, save_linear_model,
    )

    model = train_maxent(labeled_docs, ["text"], "label", dim=DIM,
                         iterations=5)
    save_linear_model(model, str(tmp_path / "m"))
    loaded = load_linear_model(str(tmp_path / "m"))
    assert loaded.labels == model.labels
    assert loaded.algorithm == "maxent"
    assert np.array_equal(loaded.weights, model.weights)

    p1 = predict_linear(model, labeled_docs, ["text"],
                        id_col="doc_id").toPandas()
    p2 = predict_linear(loaded, labeled_docs, ["text"],
                        id_col="doc_id").toPandas()
    pd.testing.assert_frame_equal(
        p1.sort_values("doc_id").reset_index(drop=True),
        p2.sort_values("doc_id").reset_index(drop=True),
    )


def test_classify_job_algorithm_switch(tmp_path):
    """`jobs/classify.py kfold --algorithm perceptron` — the
    reference's ALGORITHM_PARAM switch (`OpenNLPClassifier.java:27-36`)
    at the spark-submit surface."""
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_nlp_classifier_spark.corpus.generator import (
        gen_corpus_pdf,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus_pdf = gen_corpus_pdf(150)
    corpus_pdf["doc_id"] = range(len(corpus_pdf))
    corpus = str(tmp_path / "corpus.parquet")
    pq.write_table(pa.Table.from_pandas(corpus_pdf), corpus)

    env = dict(os.environ)
    # the session JVM already holds a pre-touched 8 GB sandbox heap
    env.update({"SPARK_GRAFT_SANDBOX": "1", "SPARK_GRAFT_CPUS": "4",
                "SPARK_GRAFT_DRIVER_MEM": "2g",
                "PYSPARK_PYTHON": sys.executable,
                "PYSPARK_DRIVER_PYTHON": sys.executable})
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "classify.py"),
         "kfold", "--input", corpus, "--text-cols", "content",
         "--label", "lang", "--k", "2", "--algorithm", "perceptron",
         "--dim", "256", "--epochs", "2"],
        capture_output=True, text=True, timeout=600, env=env, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "mean accuracy:" in r.stdout


def test_maxent_qn_converges_below_gd(spark, labeled_docs):
    """L-BFGS (MAXENT_QN) reaches a lower regularized NLL than the
    same number of plain-GD iterations, and predicts the separable
    fixture correctly."""
    from elasticsearch_nlp_classifier_spark.classifier import (
        train_maxent_qn,
    )
    from elasticsearch_nlp_classifier_spark.classifier.linear import (
        _grad_loss, hashed_features as hf,  # noqa: F401
    )

    iters, l2 = 8, 1e-4
    gd = train_maxent(labeled_docs, ["text"], "label", dim=DIM,
                      iterations=iters, l2=l2)
    qn = train_maxent_qn(labeled_docs, ["text"], "label", dim=DIM,
                         iterations=iters, l2=l2)

    feats = hf(labeled_docs, ["text"], DIM, id_col="doc_id")
    ydf = labeled_docs.selectExpr("doc_id as _id", "label as _y")
    n = float(labeled_docs.count())

    def reg_loss(model):
        _, nll = _grad_loss(spark, feats, ydf, model.labels,
                            model.weights, want_loss=True)
        return nll / n + 0.5 * l2 * float(
            (model.weights * model.weights).sum())

    assert reg_loss(qn) < reg_loss(gd)

    preds = predict_linear(qn, labeled_docs, ["text"], id_col="doc_id")
    assert accuracy(labeled_docs, preds, "label", "doc_id") >= 0.95
