"""Linear text classifiers — the reference's non-NB trainer menu.

`OpenNLPClassifier.java:27-36` benchmarks five doccat trainers
(NAIVEBAYES / MAXENT / MAXENT_QN / PERCEPTRON / PERCEPTRON_SEQUENCE,
local accuracies 0.779/0.776/0.769/0.750/NaN); the shipped default is
NAIVEBAYES (``classifier/nb.py``) but a reference user is one line away
from MAXENT or PERCEPTRON.  This module re-expresses both as
distributed DataFrame computations:

* **MaxEnt** (multinomial logistic regression, OpenNLP's GIS-trained
  doccat) — full-batch gradient descent.  The weight matrix lives on
  the driver (the classic MLlib shape for iterative optimizers: the
  model is dims×classes, tiny next to the corpus) and each iteration
  is two bounded shuffles, all JVM expressions:

      logits:   feats ⋈ broadcast(W)  → groupBy(doc)  Σ x·w_c
      softmax + error per doc          (element-wise, codegen)
      gradient: feats ⋈ errors(doc)    → groupBy(idx)  Σ x·err_c
      collect ≤ (dim+1) rows           → W ← W − lr·(∇/n + λW)

  The per-iteration DAG is shallow (features are cached; W is
  re-created from the driver each step), so lineage does not grow
  with iterations.

* **Perceptron** — OpenNLP's trainer is inherently online; the
  published distributed re-expression is *iterative parameter
  mixing* (McDonald, Hall & Mann, NAACL 2010): each epoch every
  partition runs a deterministic online averaged-perceptron pass
  from the broadcast weights over its own shard (sorted by doc id),
  and the resulting weight vectors are averaged across partitions.

Features are hashed bag-of-words counts (Weinberger et al. 2009, the
same trick as ``operators/feathash.py``): term t contributes
``sign(t)·tf`` to bucket ``h(t) mod dim``, plus a constant bias
feature at index ``dim`` — so the model never materialises a
vocabulary and the weight matrix has a fixed, known size at any
corpus scale.  Hashes are JVM ``xxhash64`` (no Python in the
feature path).

Prediction has NB's scoring pass (``nb.py:predict_nb``): ONE shuffle
keyed by doc, per-class scores as columns from a broadcast weight join,
and the same argmax (``nb.argmax_prediction``, ties → label ASC).  For cross-engine oracle
comparisons weights are rounded before scoring and scores rounded
before the argmax (float64 sums accumulate in engine-specific order).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..analyzer.spark_udfs import analyze_fields
from .nb import argmax_prediction

__all__ = ["LinearModel", "hashed_features", "train_maxent",
           "train_maxent_qn", "train_perceptron", "predict_linear"]

_BUCKET_SALT = "lin_b"
_SIGN_SALT = "lin_s"


@dataclass
class LinearModel:
    """weights: numpy (dim+1, k) float64 — row ``dim`` is the bias.
    ``labels`` are sorted ASC so argmax-first-match ties break like
    the reference (smallest class name)."""
    weights: np.ndarray
    labels: list[str]
    dim: int
    algorithm: str

    def weights_df(self, spark, round_to: int | None = 9) -> DataFrame:
        """Long-format (idx, label, w) — label-agnostic, directly
        joinable/oracle-replayable.  Zero weights are kept out (the
        join treats absent (idx,label) as 0)."""
        w = self.weights if round_to is None else np.round(
            self.weights, round_to)
        idx, ci = np.nonzero(w)
        pdf = pd.DataFrame({
            "idx": idx.astype("int64"),
            "label": [self.labels[c] for c in ci],
            "w": w[idx, ci],
        })
        if pdf.empty:  # degenerate all-zero model: keep one row per label
            pdf = pd.DataFrame({
                "idx": [0] * len(self.labels),
                "label": self.labels,
                "w": [0.0] * len(self.labels),
            })
        return spark.createDataFrame(pdf)


def _sign(term: Column) -> Column:
    return F.when(
        F.pmod(F.xxhash64(term, F.lit(_SIGN_SALT)), F.lit(2)) == 0,
        F.lit(1.0)).otherwise(F.lit(-1.0))


def hashed_features(
    docs: DataFrame,
    text_cols: list[str],
    dim: int,
    analyzer: str = "simple_code",
    id_col: str = "doc_id",
) -> DataFrame:
    """(_id, idx, x) signed hashed term counts + a bias row per doc.

    Every doc gets the bias row (idx=dim, x=1) even when it tokenizes
    to nothing, so downstream joins cover the full id set with no
    left-join/fill step."""
    toks = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(analyze_fields(text_cols, analyzer)).alias("term"),
        )
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    feats = (
        toks.select(
            "_id",
            F.pmod(F.xxhash64("term", F.lit(_BUCKET_SALT)),
                   F.lit(dim)).alias("idx"),
            (_sign(F.col("term")) * F.col("tf")).alias("x"),
        )
        .groupBy("_id", "idx")
        .agg(F.sum("x").alias("x"))
    )
    bias = docs.select(
        F.col(id_col).alias("_id"),
        F.lit(dim).cast("bigint").alias("idx"),
        F.lit(1.0).alias("x"),
    )
    return feats.unionByName(bias)


def _label_index(train: DataFrame, label_col: str) -> tuple[list[str], dict]:
    labels = sorted(
        r[0] for r in train.select(label_col).distinct().collect()
    )
    return labels, {c: i for i, c in enumerate(labels)}


def _scores_df(
    feats: DataFrame, wdf: DataFrame, k: int, prefix: str = "_s"
) -> DataFrame:
    """(_id, s0..s(k-1)) = Σ_j x_j · W[j] — one broadcast join + one
    doc-keyed hash aggregate (map-side combined)."""
    return (
        feats.join(F.broadcast(wdf), "idx")
        .groupBy("_id")
        .agg(*[
            F.sum(F.col("x") * F.col("wvec")[i]).alias(f"{prefix}{i}")
            for i in range(k)
        ])
    )


def _w_array_df(spark, W: np.ndarray) -> DataFrame:
    """Dense array-format weights (idx, wvec array<double>) for the
    per-iteration broadcast join."""
    pdf = pd.DataFrame({
        "idx": np.arange(W.shape[0], dtype="int64"),
        "wvec": list(W.tolist()),
    })
    return spark.createDataFrame(pdf)


def train_maxent(
    train: DataFrame,
    text_cols: list[str],
    label_col: str,
    dim: int = 4096,
    iterations: int = 25,
    lr: float = 0.5,
    l2: float = 1e-4,
    analyzer: str = "simple_code",
    id_col: str = "doc_id",
) -> LinearModel:
    """Multinomial logistic regression by full-batch gradient descent.

    Reference surface: `OpenNLPClassifier.java:36` (the MAXENT
    alternative, Kaggle 0.78026).  GIS and GD converge to the same
    (convex) optimum; GD is the distributed-friendly form."""
    spark = train.sparkSession
    labels, lut = _label_index(train, label_col)
    k = len(labels)

    feats = hashed_features(
        train, text_cols, dim, analyzer=analyzer, id_col=id_col
    ).cache()
    ydf = train.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_y"),
    ).cache()
    n = ydf.count()
    feats.count()  # materialize the cache before the loop

    W = np.zeros((dim + 1, k), dtype="float64")
    for _ in range(iterations):
        grad, _ = _grad_loss(spark, feats, ydf, labels, W)
        W -= lr * (grad / float(n) + l2 * W)

    feats.unpersist()
    ydf.unpersist()
    return LinearModel(W, labels, dim, "maxent")


def _grad_loss(
    spark,
    feats: DataFrame,
    ydf: DataFrame,
    labels: list[str],
    W: np.ndarray,
    want_loss: bool = False,
) -> tuple[np.ndarray, float | None]:
    """One distributed pass: raw data gradient Σ_docs x·(softmax−y)ᵀ
    (unscaled, no regulariser) and optionally the summed negative
    log-likelihood Σ −log p_y.  Numerically-stable softmax, all
    codegen; the only collected results are ≤dim gradient rows and one
    loss scalar."""
    k = len(labels)
    onehot = [
        F.when(F.col("_y") == c, F.lit(1.0)).otherwise(F.lit(0.0))
        for c in labels
    ]
    wdf = _w_array_df(spark, W)
    per_doc = _scores_df(feats, wdf, k).join(ydf, "_id")
    mx = (F.col("_s0") if k == 1
          else F.greatest(*[F.col(f"_s{i}") for i in range(k)]))
    exps = [F.exp(F.col(f"_s{i}") - mx) for i in range(k)]
    z = exps[0]
    for e in exps[1:]:
        z = z + e
    py = None
    if want_loss:
        py = exps[0] * onehot[0]
        for i in range(1, k):
            py = py + exps[i] * onehot[i]
    errs = per_doc.select(
        "_id",
        *[(exps[i] / z - onehot[i]).alias(f"_e{i}") for i in range(k)],
        *([(F.log(z) - F.log(py)).alias("_nll")] if want_loss else []),
    )
    if want_loss:
        errs = errs.persist()
    grad_rows = (
        feats.join(errs.select("_id", *[f"_e{i}" for i in range(k)]), "_id")
        .groupBy("idx")
        .agg(*[
            F.sum(F.col("x") * F.col(f"_e{i}")).alias(f"_g{i}")
            for i in range(k)
        ])
        .toPandas()
    )
    grad = np.zeros_like(W)
    gi = grad_rows["idx"].to_numpy()
    gv = grad_rows[[f"_g{i}" for i in range(k)]].to_numpy()
    grad[gi] = gv
    loss = None
    if want_loss:
        loss = float(errs.agg(F.sum("_nll")).collect()[0][0])
        errs.unpersist()
    return grad, loss


def train_maxent_qn(
    train: DataFrame,
    text_cols: list[str],
    label_col: str,
    dim: int = 4096,
    iterations: int = 15,
    memory: int = 7,
    l2: float = 1e-4,
    analyzer: str = "simple_code",
    id_col: str = "doc_id",
) -> LinearModel:
    """MAXENT_QN — the reference's quasi-Newton trainer
    (`OpenNLPClassifier.java:29`, OpenNLP's L-BFGS `QNTrainer`, local
    accuracy 0.769).  Standard L-BFGS two-loop recursion on the driver
    (the optimizer state is m pairs of dim×k matrices — model-sized,
    not data-sized); each function/gradient evaluation is the same
    bounded distributed pass GD uses, plus one loss scalar.  Armijo
    backtracking keeps every step a descent step."""
    spark = train.sparkSession
    labels, _ = _label_index(train, label_col)
    k = len(labels)

    feats = hashed_features(
        train, text_cols, dim, analyzer=analyzer, id_col=id_col
    ).cache()
    ydf = train.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_y"),
    ).cache()
    n = float(ydf.count())
    feats.count()

    def f_g(W):
        grad, nll = _grad_loss(spark, feats, ydf, labels, W,
                               want_loss=True)
        g = grad / n + l2 * W
        loss = nll / n + 0.5 * l2 * float((W * W).sum())
        return loss, g

    W = np.zeros((dim + 1, k), dtype="float64")
    loss, g = f_g(W)
    s_hist: list[np.ndarray] = []
    y_hist: list[np.ndarray] = []
    for _ in range(iterations):
        # two-loop recursion → search direction d = −H·g
        q = g.copy()
        alphas = []
        for s, y in zip(reversed(s_hist), reversed(y_hist)):
            rho = 1.0 / float((y * s).sum())
            a = rho * float((s * q).sum())
            alphas.append((a, rho))
            q -= a * y
        if y_hist:
            y_last = y_hist[-1]
            gamma = (float((s_hist[-1] * y_last).sum())
                     / float((y_last * y_last).sum()))
            q *= gamma
        for (a, rho), s, y in zip(reversed(alphas), s_hist, y_hist):
            b = rho * float((y * q).sum())
            q += (a - b) * s
        d = -q

        gTd = float((g * d).sum())
        if gTd >= 0:  # not a descent direction (degenerate) → steepest
            d, gTd = -g, -float((g * g).sum())
        step = 1.0
        for _trial in range(6):  # Armijo backtracking
            W_new = W + step * d
            loss_new, g_new = f_g(W_new)
            if loss_new <= loss + 1e-4 * step * gTd:
                break
            step *= 0.5
        s_vec, y_vec = W_new - W, g_new - g
        if float((y_vec * s_vec).sum()) > 1e-12:  # curvature condition
            s_hist.append(s_vec)
            y_hist.append(y_vec)
            if len(s_hist) > memory:
                s_hist.pop(0)
                y_hist.pop(0)
        W, loss, g = W_new, loss_new, g_new

    feats.unpersist()
    ydf.unpersist()
    return LinearModel(W, labels, dim, "maxent_qn")


def train_perceptron(
    train: DataFrame,
    text_cols: list[str],
    label_col: str,
    dim: int = 4096,
    epochs: int = 5,
    analyzer: str = "simple_code",
    id_col: str = "doc_id",
    num_shards: int | None = None,
) -> LinearModel:
    """Averaged multiclass perceptron via iterative parameter mixing
    (McDonald et al. 2010): per-epoch deterministic online passes per
    shard from the broadcast weights, weight vectors averaged across
    shards.  Reference surface: `OpenNLPClassifier.java:31`
    (PERCEPTRON, local accuracy 0.750).

    Deterministic by construction: shard = xxhash64(_id) mod P, docs
    sorted by _id inside the shard, float ops in fixed order."""
    spark = train.sparkSession
    labels, lut = _label_index(train, label_col)
    k = len(labels)
    P = num_shards or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))

    feats = hashed_features(
        train, text_cols, dim, analyzer=analyzer, id_col=id_col)
    per_doc = (
        feats.groupBy("_id")
        .agg(F.collect_list(F.struct("idx", "x")).alias("fv"))
        .join(
            train.select(F.col(id_col).alias("_id"),
                         F.col(label_col).alias("_y")),
            "_id",
        )
        .withColumn("_shard", F.pmod(F.xxhash64("_id"), F.lit(P)))
        .cache()
    )
    # mix over the shards that actually trained (tiny data can leave
    # hash shards empty; dividing by P would shrink W toward 0)
    n_shards = per_doc.select("_shard").distinct().count()

    lut_b = dict(lut)
    dim_b, k_b = dim, k
    W = np.zeros((dim + 1, k), dtype="float64")

    out_schema = "idx long, wvec array<double>"
    for _ in range(epochs):
        W0 = W.copy()  # captured by the UDF → shipped to every shard

        def _pass(pdf: pd.DataFrame) -> pd.DataFrame:
            w = W0.copy()
            u = np.zeros_like(w)          # Daumé averaging trick
            t = 1
            pdf = pdf.sort_values("_id")
            for fv, y in zip(pdf["fv"], pdf["_y"]):
                yi = lut_b[y]
                idxs = np.fromiter((e["idx"] for e in fv), dtype="int64")
                xs = np.fromiter((e["x"] for e in fv), dtype="float64")
                scores = xs @ w[idxs]                      # (k,)
                # argmax, ties → smallest label index (ASC)
                p = int(np.argmax(scores))
                if p != yi:
                    w[idxs, yi] += xs
                    w[idxs, p] -= xs
                    u[idxs, yi] += t * xs
                    u[idxs, p] -= t * xs
                t += 1
            avg = w - u / float(t)
            nz = np.flatnonzero(np.abs(avg).sum(axis=1))
            if nz.size == 0:
                nz = np.array([0], dtype="int64")
            return pd.DataFrame({
                "idx": nz.astype("int64"),
                "wvec": list(avg[nz].tolist()),
            })

        mixed = (
            per_doc.groupBy("_shard")
            .applyInPandas(_pass, schema=out_schema)
            .groupBy("idx")
            .agg(*[
                F.sum(F.col("wvec")[i]).alias(f"_w{i}") for i in range(k_b)
            ])
            .toPandas()
        )
        W = np.zeros((dim_b + 1, k_b), dtype="float64")
        wi = mixed["idx"].to_numpy()
        wv = mixed[[f"_w{i}" for i in range(k_b)]].to_numpy()
        W[wi] = wv / float(n_shards)  # parameter mixing: uniform average

    per_doc.unpersist()
    return LinearModel(W, labels, dim, "perceptron")


def predict_linear(
    model: LinearModel,
    docs: DataFrame,
    text_cols: list[str],
    analyzer: str = "simple_code",
    id_col: str = "doc_id",
    keep_scores: bool = False,
    tie_round: int | None = 6,
    weight_round: int | None = 9,
) -> DataFrame:
    """(id, prediction[, score]) — argmax_c Σ x·w_c, ties → label ASC.

    Same plan as ``nb.predict_nb``: broadcast weight join, ONE
    doc-keyed aggregate, array argmax — no window, no per-class row
    expansion.  ``weight_round``/``tie_round`` pin the exact numbers
    an ANSI-SQL replay produces (see ``predict_sql``)."""
    spark = docs.sparkSession
    labels, k = model.labels, len(model.labels)
    W = model.weights if weight_round is None else np.round(
        model.weights, weight_round)
    wdf = _w_array_df(spark, W)

    feats = hashed_features(
        docs, text_cols, model.dim, analyzer=analyzer, id_col=id_col)
    return argmax_prediction(
        _scores_df(feats, wdf, k), id_col,
        [F.col(f"_s{i}") for i in range(k)], labels, tie_round, keep_scores)


def predict_sql(
    feats_path: str,
    weights_path: str,
    id_alias: str = "doc_id",
    tie_round: int = 6,
) -> str:
    """ANSI-SQL twin of ``predict_linear`` over MATERIALIZED features
    (_id, idx, x) and long-format weights (idx, label, w) — the oracle
    replays the distributed predict stage exactly (training itself is
    iterative and not SQL-expressible)."""
    return f"""
        WITH f AS (SELECT * FROM read_parquet('{feats_path}/*.parquet')),
        w AS (SELECT * FROM read_parquet('{weights_path}/*.parquet')),
        labels AS (SELECT DISTINCT label FROM w),
        s AS (
          SELECT f._id, l.label,
                 sum(f.x * coalesce(w.w, 0.0)) AS score
          FROM f CROSS JOIN labels l
          LEFT JOIN w ON w.idx = f.idx AND w.label = l.label
          GROUP BY 1, 2
        ),
        r AS (
          SELECT _id, label,
                 row_number() OVER (
                   PARTITION BY _id
                   ORDER BY round(score, {tie_round}) DESC, label ASC
                 ) AS rn
          FROM s
        )
        SELECT _id AS {id_alias}, label AS prediction
        FROM r WHERE rn = 1"""
