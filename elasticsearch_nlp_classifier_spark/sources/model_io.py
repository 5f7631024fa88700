"""NB model persistence (S11, `OpenNLPClassifier.load/save`
`v1/classifier/OpenNLPClassifier.java:42-54`).

The reference serializes an opaque OpenNLP ``DoccatModel`` binary; our
model is *relational* — class priors and per-(class, term) smoothed
log-likelihoods — so the natural sink is two parquet tables plus a tiny
JSON sidecar (vocab size, label order).  A saved model is loadable on
any cluster size; ``predict_nb`` collects the priors and likelihood
tables and broadcasts them as one per-term class-delta array.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ..classifier.nb import NBModel


def save_model(model: NBModel, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    model.priors.write.mode("overwrite").parquet(f"{path}/priors")
    model.likelihood.write.mode("overwrite").parquet(f"{path}/likelihood")
    model.vocab.write.mode("overwrite").parquet(f"{path}/vocab")
    with open(f"{path}/meta.json", "w") as f:
        json.dump({"vocab_size": model.vocab_size, "labels": model.labels}, f)


def load_model(spark: SparkSession, path: str) -> NBModel:
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    return NBModel(
        priors=spark.read.parquet(f"{path}/priors"),
        likelihood=spark.read.parquet(f"{path}/likelihood"),
        vocab=spark.read.parquet(f"{path}/vocab"),
        vocab_size=meta["vocab_size"],
        labels=meta["labels"],
    )


def save_linear_model(model, path: str) -> None:
    """Linear (MaxEnt/Perceptron) model persistence — dense weights as
    an npz (the matrix is dim×k, driver-sized by construction) plus the
    same JSON sidecar shape as the NB saver."""
    import numpy as np

    os.makedirs(path, exist_ok=True)
    np.savez_compressed(f"{path}/weights.npz", weights=model.weights)
    with open(f"{path}/meta.json", "w") as f:
        json.dump({"labels": model.labels, "dim": model.dim,
                   "algorithm": model.algorithm}, f)


def load_linear_model(path: str):
    import numpy as np

    from ..classifier.linear import LinearModel

    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    weights = np.load(f"{path}/weights.npz")["weights"]
    return LinearModel(weights, meta["labels"], meta["dim"],
                       meta["algorithm"])
