"""Distributed quality-classifier training (logistic regression).

The fastText-style step every training-data pipeline runs: fit a small
linear classifier on cheap document features against a weak label, then
score the whole corpus with it (CCNet/GPT-3-style quality filtering —
the LM-perplexity scorer's discriminative sibling, cf.
``text.lm_cross_entropy``).

Spark-first design (reference has no classifier surface; this extends
the ML layer the same way `operators/autoencoder.py` does for the
reconstruction scorer, reference ``ML Model/Scripts/train.py``):

- **Features are codegen expressions** over the text column — token
  count, mean token length, digit ratio — computed JVM-side, never a
  Python UDF.
- **Training is full-batch gradient descent** driven from the driver:
  one distributed aggregate per iteration produces the (dim+1)-float
  gradient (map-side partials, a scalar-sized shuffle), the driver
  updates the weight vector and broadcasts it back as literals in the
  next iteration's expression. Nothing larger than the weight vector
  ever leaves the cluster; the corpus is scanned once per iteration
  (cache the slim feature frame in production — it is 4 doubles/doc).
- **Deterministic across engines**: weights are quantized to 1e-9 after
  every update (floor-half-up — the kmeans centroid discipline), so
  float-sum ordering and libm ulp differences cannot compound across
  iterations; an independent SQL engine re-running the same recipe
  reproduces the weights bit-for-bit at quantization granularity.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import half_up, q6
from .text import normalize_text

#: feature names in weight order (w[0] is the bias)
FEATURES = ("bias", "tokens_x", "tok_len_x", "digit_x")


def _q9(v: float) -> float:
    return math.floor(v * 1e9 + 0.5) / 1e9


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    pos_label: str = "en",
) -> DataFrame:
    """Slim per-doc training frame: weak label y = (lang == pos_label)
    and three scaled scalar features —

    - ``tokens_x``: normalized-token count, capped at 500, /100;
    - ``tok_len_x``: mean token length /10 (0 for empty docs);
    - ``digit_x``: digit fraction of the RAW text.

    All plain column expressions (one projection, no shuffle, no UDF).
    """
    norm = normalize_text(F.col(text_col))
    toks = F.split(norm, " ")
    n_tok = F.when(F.length(norm) > 0, F.size(toks)).otherwise(F.lit(0))
    tok_chars = F.length(F.regexp_replace(norm, " ", ""))
    digits = F.length(F.regexp_replace(F.col(text_col), "[^0-9]", ""))
    return df.select(
        F.col(id_col),
        F.when(F.col(lang_col) == pos_label, 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("bias"),
        (F.least(n_tok, F.lit(500)).cast("double") / 100).alias("tokens_x"),
        (tok_chars / F.greatest(n_tok, F.lit(1)) / 10).alias("tok_len_x"),
        (digits / F.greatest(F.length(F.col(text_col)), F.lit(1))).alias("digit_x"),
    )


def _z_expr(weights: list[float]) -> str:
    return " + ".join(f"{w!r}D * {f}" for w, f in zip(weights, FEATURES))


def _with_sigmoid(features: DataFrame, weights: list[float]) -> DataFrame:
    """Stage ``__sig`` = σ(w·x) with the current weights inlined as
    literals.  The margin is clamped to ±40 (the sigmoid is exactly
    0.0/1.0 in double well before that) so detmath's exp — bit-identical
    across engines, unlike libm exp — stays in its shift domain."""
    from ..functions import detmath

    z = F.expr(_z_expr(weights))
    zc = (
        F.when(z > 40.0, F.lit(40.0))
        .when(z < -40.0, F.lit(-40.0))
        .otherwise(z)
    )
    return features.withColumn("__mz", F.lit(0.0) - zc).withColumn(
        "__sig", F.lit(1.0) / (F.lit(1.0) + detmath.det_exp("__mz"))
    )


def train_logreg(
    features: DataFrame, iters: int = 12, lr: float = 1.0
) -> list[float]:
    """Full-batch logistic-regression GD over a ``quality_features``
    frame. Per iteration: ONE aggregate computes n and the summed
    gradient Σ xⱼ·(σ(w·x) − y) for every feature (the sigmoid/dot is a
    single codegen expression with the current weights inlined as
    literals); the driver applies w ← q9(w − lr·g/n). Returns the final
    quantized weights.

    Determinism: the sigmoid is detmath exp (libm exp differs by ulps
    across engines) and each per-row gradient term xⱼ·(σ−y) is snapped
    to a 1e-9 integer grid and summed as BIGINT — exact and partial-agg-
    order independent, so the q9 weight snaps can never flip between
    engines or partitionings."""
    w = [0.0] * len(FEATURES)
    for _ in range(iters):
        staged = _with_sigmoid(features, w)
        err = F.col("__sig") - F.col("y")
        row = staged.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(half_up(F.col(f) * err * 1e9)).alias(f"g_{f}")
                for f in FEATURES
            ],
        ).collect()[0]
        n = row["n"]
        if n == 0:
            break
        w = [
            _q9(wj - lr * (row[f"g_{f}"] / 1e9) / n)
            for wj, f in zip(w, FEATURES)
        ]
    return w


def score(
    features: DataFrame, weights: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """Score a feature frame with trained weights: σ(w·x) quantized q6,
    plus the thresholded prediction — a pure projection (sigmoid via
    detmath exp, bit-identical across engines)."""
    staged = _with_sigmoid(features, weights)
    s = F.col("__sig")
    return staged.select(
        id_col,
        F.col("y").cast("int").alias("y"),
        q6(s).alias("score_q6"),
        (s >= 0.5).cast("int").alias("pred"),
    )


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    pos_label: str = "en",
    iters: int = 12,
    lr: float = 1.0,
) -> DataFrame:
    """End-to-end: features → distributed GD fit → corpus scoring.
    Returns (doc_id, y, score_q6, pred)."""
    # materialize the slim feature frame (#docs × 5 doubles) ONCE:
    # train_logreg's full-batch GD aggregates it `iters` times and the
    # final scoring once more — without the checkpoint each of those 13
    # consumers re-ran the corpus scan + regex feature extraction
    # (measured 6.3 s -> 3.9 s warm for doc_classifier_auc at sf0.01
    # — the rest is the 12 sequential GD aggregate jobs, the algorithm;
    # the one registry caller that fed train_logreg directly already
    # checkpointed at the call site)
    feats = quality_features(
        df, text_col=text_col, lang_col=lang_col, id_col=id_col, pos_label=pos_label
    ).localCheckpoint()
    weights = train_logreg(feats, iters=iters, lr=lr)
    return score(feats, weights, id_col=id_col)
