"""Trained quality classifier — the fastText/CCNet-style model-based
document filter production training-data pipelines run after the
heuristic filters: a LOGISTIC REGRESSION over hashed bag-of-token
features, trained and applied entirely with DataFrame aggregations.

Why this shape at 100 TB:

* **Features are one explode + one groupBy** — token → murmur-hashed
  index (``F.hash % dim``, JVM-side), counted per doc. No
  vocabulary build, no driver-side dictionaries: the hashing trick
  bounds the model at ``dim`` floats regardless of corpus size.
* **Training is full-batch gradient descent where each epoch is two
  map-side-combinable aggregations**: scores = per-doc sum of
  ``w[feat] * x`` (broadcast weights, groupBy doc), gradient =
  per-feature sum of ``(p - y) * x`` (groupBy feat, at most ``dim``
  rows to the driver). The driver holds exactly ``dim + 1`` floats;
  executors never see the model except as a broadcast. This is the
  textbook distributed-LR decomposition — the same aggregation
  shape Spark MLlib's own LBFGS uses for its gradient.
* **Inference is one broadcast join + one groupBy** per corpus pass.

Labels: real deployments plug human/LLM judgments in; the driver
gate derives a DETERMINISTIC linear-rule label from the synthetic
corpus (learnable by construction) so the certification check pins
convergence without an external labeler.

Reference tie-in: extends the engine's text-quality family
(`text.py` heuristics) with the model-based stage; no reference
equivalent (the reference is a metadata tool).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def hashed_token_features(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
) -> DataFrame:
    """(id, feat, x): hashed unigram COUNT features — pure JVM
    expressions (split/explode/hash/groupBy), no UDFs. Raw counts,
    not normalized: the gate's linear-rule label is linear in
    counts, and LR weights absorb scale."""
    toks = docs.select(
        F.col(id_col).alias("_qid"),
        F.explode(
            F.split(F.lower(F.col(text_col)), r"\s+")
        ).alias("_tok"),
    ).filter(F.col("_tok") != "")
    return toks.groupBy(
        "_qid", F.pmod(F.hash("_tok"), F.lit(dim)).alias("feat")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    ).select(F.col("_qid").alias(id_col), "feat", "x")


def _weights_df(spark: SparkSession, w: np.ndarray) -> DataFrame:
    return local_frame(
        spark, [(int(i), float(v)) for i, v in enumerate(w)], "feat int, wv double"
    )


def _scores(feats: DataFrame, wdf: DataFrame, bias: float) -> DataFrame:
    """(id_col, z): the linear score per doc — broadcast weight join
    (dim rows), one groupBy."""
    id_col = feats.columns[0]
    return (
        feats.join(F.broadcast(wdf), "feat")
        .groupBy(id_col)
        .agg((F.sum(F.col("x") * F.col("wv")) + F.lit(bias)).alias("z"))
    )


def train_quality_model(
    spark: SparkSession,
    docs: DataFrame,
    *,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    epochs: int = 20,
    lr: float = 0.2,
) -> dict:
    """Full-batch logistic regression with a driver-side ADAM step
    (the cluster computes exact gradients; the optimizer state is
    ``O(dim)`` driver floats — plain GD needs 5-10× the epochs on
    low-margin labels). Returns ``{"w": ndarray, "bias": float,
    "dim": int, "losses": [per-epoch log-loss]}``. Per epoch: two
    shuffles whose partial aggregates combine map-side; at most
    ``dim`` gradient rows return to the driver."""
    labels = docs.select(
        F.col(id_col), F.col(label_col).cast("double").alias("_y")
    )
    feats = hashed_token_features(
        docs, text_col=text_col, id_col=id_col, dim=dim
    ).cache()
    n = labels.count()
    w = np.zeros(dim, dtype=np.float64)
    bias = 0.0
    m = np.zeros(dim)
    v = np.zeros(dim)
    mb = vb = 0.0
    b1, b2, eps = 0.9, 0.999, 1e-8
    losses: list[float] = []
    for t in range(1, epochs + 1):
        scored = (
            _scores(feats, _weights_df(spark, w), bias)
            .join(labels, id_col)
            .select(
                id_col,
                "_y",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("_p"),
            )
        )
        # per-feature gradient: at most `dim` rows return; log-loss
        # rides the same pass (one extra aggregate, no extra scan)
        resid = scored.select(
            id_col,
            (F.col("_p") - F.col("_y")).alias("_r"),
            (
                -F.col("_y") * F.log(F.greatest(F.col("_p"), F.lit(1e-12)))
                - (F.lit(1.0) - F.col("_y"))
                * F.log(F.greatest(F.lit(1.0) - F.col("_p"), F.lit(1e-12)))
            ).alias("_l"),
        )
        grad_rows = (
            feats.join(resid, id_col)
            .groupBy("feat")
            .agg(F.sum(F.col("x") * F.col("_r")).alias("g"))
            .collect()
        )
        agg = resid.agg(
            F.sum("_r").alias("gb"), F.avg("_l").alias("loss")
        ).collect()[0]
        g = np.zeros(dim, dtype=np.float64)
        for r in grad_rows:
            g[r["feat"]] = r["g"]
        g /= n
        gb = float(agg["gb"]) / n
        m = b1 * m + (1 - b1) * g
        v = b2 * v + (1 - b2) * g * g
        mb = b1 * mb + (1 - b1) * gb
        vb = b2 * vb + (1 - b2) * gb * gb
        w -= lr * (m / (1 - b1**t)) / (np.sqrt(v / (1 - b2**t)) + eps)
        bias -= lr * (mb / (1 - b1**t)) / (
            math.sqrt(vb / (1 - b2**t)) + eps
        )
        losses.append(float(agg["loss"]))
    feats.unpersist()
    return {"w": w, "bias": bias, "dim": dim, "losses": losses}


def score_quality_model(
    spark: SparkSession,
    docs: DataFrame,
    model: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, quality_p): the model's probability per doc — one
    broadcast join + one groupBy over the corpus (docs with ZERO
    features score at the bias, via the left join below)."""
    feats = hashed_token_features(
        docs, text_col=text_col, id_col=id_col, dim=model["dim"]
    )
    scored = _scores(feats, _weights_df(spark, model["w"]), model["bias"])
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-F.coalesce(F.col("z"), F.lit(model["bias"])))
                )
            ).alias("quality_p"),
        )
    )


# ------------------------------------------------ driver-gate query


def _labeled_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus with a DETERMINISTIC linear-rule label
    (learnable by construction — it is linear in the bag of words):
    y = 1 iff count('spark') + count('join') > count('slow') + 1.
    Split train/test by salted md5 (the engine's split discipline)."""
    import os

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = F.split(F.lower(F.col("text")), r"\s+")

    def _cnt(t: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(t)))

    return docs.select(
        "doc_id",
        "text",
        (
            (_cnt("spark") + _cnt("join")) > (_cnt("slow") + F.lit(1))
        ).cast("int").alias("label"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("qsplit:"),
                                              F.col("doc_id").cast("string"))),
                               1, 8), 16, 10).cast("long") % 100 < 75
        ).alias("is_train"),
    )


def quality_model_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification companion: train on the 75% md5 split, evaluate
    on the held-out 25% — the model must reach ≥85% accuracy on BOTH
    splits (the rule is linear in the hashed space — the corpus
    vocab is collision-free at dim 1024 under Spark's murmur hash —
    so convergence failure = machinery bug, not noise), and the
    final per-epoch loss must sit below the first. Golden oracle."""
    data = _labeled_documents(spark, sf_dir).cache()
    train = data.filter("is_train")
    test = data.filter("NOT is_train")
    model = train_quality_model(
        spark, train, label_col="label", dim=1024, epochs=20, lr=0.2
    )

    def _acc(split: DataFrame) -> float:
        scored = score_quality_model(spark, split, model).join(
            split.select("doc_id", "label"), "doc_id"
        )
        row = scored.agg(
            F.avg(
                ((F.col("quality_p") > 0.5).cast("int") == F.col("label"))
                .cast("double")
            ).alias("acc")
        ).collect()[0]
        return float(row["acc"])

    acc_train, acc_test = _acc(train), _acc(test)
    data.unpersist()
    rows = [
        ("loss_decreased", int(model["losses"][-1] < model["losses"][0])),
        ("test_acc_ge_85", int(acc_test >= 0.85)),
        ("train_acc_ge_85", int(acc_train >= 0.85)),
    ]
    return local_frame(spark, rows, "measure string, value long").orderBy(
        "measure"
    )


QUALITY_MODEL_CHECK_SQL = """
SELECT measure, CAST(value AS BIGINT) AS value
FROM (VALUES ('loss_decreased', 1), ('test_acc_ge_85', 1),
             ('train_acc_ge_85', 1)) t(measure, value)
ORDER BY measure
"""
