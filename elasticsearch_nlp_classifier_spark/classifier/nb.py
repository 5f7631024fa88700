"""Multinomial Naive Bayes — the reference's classifier layer
(`v1/classifier/OpenNLPClassifier.java:26-110`, NAIVEBAYES doccat): two
collected DataFrame aggregations of the same token stream the index
build uses train it, one broadcast pass predicts (SURVEY §2.4 A8/A9).

Engine spec (documented; the pandas oracle implements it identically):

    prior(c)      = ln(docs_c / docs_total)
    ll(c, t)      = ln((count(c,t) + α) / (total_c + α·V))      α = 1.0
    default(c)    = ln(α / (total_c + α·V))                     # unseen-in-c
    score(d, c)   = prior(c) + Σ_{t ∈ d ∩ V} tf(d,t) · ll*(c,t)
    prediction(d) = argmax_c score(d,c), ties → class name ASC

Tokens absent from the training vocabulary V are ignored.  The k-fold
split is the reference's deterministic ``_id % k`` script query
(`OpenNLPClassifierES.java:31-33`).

Scale shape: the model is |classes|·|V| numbers, so it lives on the
driver.  Training collects two aggregations of the labeled token stream
— (label, term) → count and label → doc count — and computes V, the
class totals, the priors and the likelihoods with numpy; the model
frames are built from those tables and nothing is cached.  Prediction
pivots ``ll − default`` into one per-term class-delta array, broadcasts
it and scores every doc in ONE pass: ``explode_outer`` → left broadcast
join → ``groupBy(doc)`` with per-class sums as columns; the argmax is
array arithmetic — no per-class row expansion, no window.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..analyzer.spark_udfs import analyze_fields

ALPHA = 1.0


@dataclass
class NBModel:
    priors: DataFrame       # (label, log_prior, default_ll)
    likelihood: DataFrame   # (label, term, ll)
    vocab: DataFrame        # (term)
    vocab_size: int
    labels: list[str]


def train_nb(
    docs: DataFrame,
    text_cols: list[str],
    label_col: str,
    analyzer: str = "default",
    id_col: str = "id",
    alpha: float = ALPHA,
) -> NBModel:
    """Train on rows whose label is present and non-empty (P9,
    `FilteredJsonDocumentStream.java:30-47`)."""
    labeled = docs.where(
        F.col(label_col).isNotNull() & (F.col(label_col) != "")
    )
    label = F.col(label_col).alias("label")
    # Σ_d tf(d,t) grouped by class is the count of the raw token stream
    # grouped by (label, term): no per-doc aggregate, no id join.
    counts = (
        labeled.select(
            label, F.explode(analyze_fields(text_cols, analyzer)).alias("term")
        )
        .groupBy("label", "term")
        .agg(F.count(F.lit(1)).alias("count"))
        .toPandas()
    )
    n_docs = (
        labeled.groupBy(label).agg(F.count(F.lit(1)).alias("n"))
        .toPandas().set_index("label")["n"].sort_index()
    )

    labels = n_docs.index.tolist()
    v = int(counts["term"].nunique())
    totals = counts.groupby("label")["count"].sum().reindex(labels, fill_value=0)
    denom = totals + alpha * float(v)

    spark = docs.sparkSession
    label_type = labeled.schema[label_col].dataType.simpleString()
    priors = pd.DataFrame({
        "label": labels,
        "log_prior": np.log(n_docs.to_numpy() / float(n_docs.sum())),
        "default_ll": np.log(alpha / denom.to_numpy()),
    })
    counts["ll"] = np.log(
        (counts["count"] + alpha) / counts["label"].map(denom).to_numpy()
    )
    return NBModel(
        priors=spark.createDataFrame(
            priors, f"label {label_type}, log_prior double, default_ll double"),
        likelihood=spark.createDataFrame(
            counts[["label", "term", "ll"]],
            f"label {label_type}, term string, ll double"),
        vocab=spark.createDataFrame(
            counts[["term"]].drop_duplicates(), "term string"),
        vocab_size=v,
        labels=labels,
    )


def argmax_prediction(
    per_doc: DataFrame,
    id_col: str,
    scores: list[Column],
    labels: list,
    tie_round: int | None,
    keep_scores: bool,
) -> DataFrame:
    """(id, prediction [, score]) from a (_id, ...) frame and one score
    column per label: argmax = ``array_position`` of ``array_max``, the
    first match → the smallest label (the reference's tie-break).

    ``tie_round``: round scores to N decimals before the argmax —
    cross-engine determinism knob for oracle comparisons (float64 sums
    accumulate in engine-specific order)."""
    arr = F.array(*scores)
    ranked = (
        F.transform(arr, lambda s: F.round(s, tie_round))
        if tie_round is not None else arr
    )
    best = F.array_position(ranked, F.array_max(ranked)).cast("int")
    out = per_doc.select(
        F.col("_id").alias(id_col),
        F.element_at(F.array(*[F.lit(c) for c in labels]), best)
        .alias("prediction"),
        F.element_at(arr, best).alias("score"),
    )
    return out if keep_scores else out.drop("score")


def predict_nb(
    model: NBModel,
    docs: DataFrame,
    text_cols: list[str],
    analyzer: str = "default",
    id_col: str = "id",
    keep_scores: bool = False,
    tie_round: int | None = None,
) -> DataFrame:
    """(id, prediction [, score]) — argmax_c of the documented score
    (``tie_round``: see ``argmax_prediction``)."""
    labels = model.labels
    pri = model.priors.toPandas().set_index("label").reindex(labels)
    ll = model.likelihood.toPandas()
    ll["delta"] = ll["ll"] - ll["label"].map(pri["default_ll"])
    dvec = (
        ll.pivot(index="term", columns="label", values="delta")
        .reindex(columns=labels).fillna(0.0)
    )
    deltas = docs.sparkSession.createDataFrame(
        pd.DataFrame({"term": dvec.index, "dvec": dvec.to_numpy().tolist()}),
        "term string, dvec array<double>",
    )
    # explode_outer + left join keep tokenless docs and out-of-vocab
    # tokens as rows with a null dvec; count/sum skip the nulls.
    per_doc = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(analyze_fields(text_cols, analyzer)).alias("term"),
        )
        .join(F.broadcast(deltas), "term", "left")
        .groupBy("_id")
        .agg(
            F.count("dvec").alias("known_cnt"),
            *[F.sum(F.col("dvec")[i]).alias(f"_s{i}")
              for i in range(len(labels))],
        )
    )
    scores = [
        F.lit(float(p)) + F.col("known_cnt") * F.lit(float(d))
        + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        for i, (p, d) in enumerate(zip(pri["log_prior"], pri["default_ll"]))
    ]
    return argmax_prediction(per_doc, id_col, scores, labels, tie_round,
                             keep_scores)


def accuracy(
    docs: DataFrame, predictions: DataFrame, label_col: str, id_col: str = "id"
) -> float:
    """A6 (`OpenNLPClassifier.java:93-110`)."""
    joined = docs.select(id_col, label_col).join(predictions, id_col)
    row = joined.agg(
        F.avg(
            (F.col(label_col) == F.col("prediction")).cast("double")
        ).alias("acc")
    ).collect()[0]
    return float(row["acc"]) if row["acc"] is not None else float("nan")


def kfold_validation(
    docs: DataFrame,
    text_cols: list[str],
    label_col: str,
    k: int = 3,
    analyzer: str = "default",
    id_col: str = "id",
) -> dict:
    """X1/X3/A10: deterministic id%k folds, train on k-1, mean accuracy
    (`OpenNLPClassifierES.java:20-58`)."""
    labeled = docs.where(
        F.col(label_col).isNotNull() & (F.col(label_col) != "")
    ).cache()
    accs = []
    try:
        for fold in range(k):
            train = labeled.where(F.pmod(F.col(id_col), F.lit(k)) != fold)
            test = labeled.where(F.pmod(F.col(id_col), F.lit(k)) == fold)
            model = train_nb(train, text_cols, label_col, analyzer, id_col)
            preds = predict_nb(model, test, text_cols, analyzer, id_col)
            accs.append(accuracy(test, preds, label_col, id_col))
    finally:
        labeled.unpersist()  # its own plan: a caller's cache stays
    return {"fold_accuracies": accs, "mean_accuracy": sum(accs) / k}


def enrich(
    docs: DataFrame,
    predictions: DataFrame,
    target_col: str,
    id_col: str = "id",
) -> DataFrame:
    """J2 + P11: left-join predictions, write only where changed
    (null-safe, missing → ''), mirroring
    `OpenNLPEnricher.java:96-112` / `OpenNLPMultiEnricher.java:142-168`.
    Returns the update set (id, <target_col>) — the MERGE source."""
    pred = predictions.withColumnRenamed("prediction", "_pred")
    joined = docs.select(id_col, target_col).join(pred, id_col, "left")
    changed = joined.where(
        F.col("_pred").isNotNull()
        & ~F.coalesce(F.col(target_col), F.lit("")).eqNullSafe(F.col("_pred"))
    )
    return changed.select(id_col, F.col("_pred").alias(target_col))


def multi_enrich(
    docs: DataFrame,
    text_cols: list[str],
    target_cols: list[str],
    analyzer: str = "default",
    id_col: str = "id",
) -> DataFrame:
    """J3: one model per target over a single cached scan
    (`OpenNLPMultiEnricher.java:93-163`), predictions combined into one
    per-doc update row; Spark DAG reuse replaces the reference's
    MultiplexIterators.  The cached scan stays cached: the returned
    update set is lazy and reads it."""
    docs = docs.cache()
    out = None
    for target in target_cols:
        model = train_nb(docs, text_cols, target, analyzer, id_col)
        preds = predict_nb(model, docs, text_cols, analyzer, id_col)
        upd = enrich(docs, preds, target, id_col).withColumnRenamed(
            target, f"pred_{target}"
        )
        out = upd if out is None else out.join(upd, id_col, "full_outer")
    return out
