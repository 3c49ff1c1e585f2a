"""Trainable quality classifier — hashed-feature logistic regression
(round 10).

The fastText-style quality-filter loop every large-scale curation
pipeline runs: label a SMALL sample (reference pages vs junk), train a
linear classifier over hashing-trick features, then score the WHOLE
corpus and filter by probability.  This module implements exactly that
on the engine's own primitives:

* features: ``similarity.feature_hash_embed`` (signed feature hashing
  — deterministic, model-free, already engine-exact);
* training: full-batch gradient descent on logistic loss with L2,
  each iteration ONE distributed aggregation over the labeled sample
  (posexplode to (position, component) → sum per position — the
  labeled set is thousands of rows × a small ``dim``, so the explode
  is bounded by design) with the weight vector broadcast back as a
  literal; fixed iteration count, no early stopping, no RNG — reruns
  produce identical weights up to float-summation order;
* scoring: one map-only JVM projection per corpus row
  (``F.aggregate`` dot product + sigmoid), no Python, no shuffle —
  the 100 TB half of the loop costs what a column projection costs.

Scale split, explicitly: TRAINING runs on the labeled sample (small
by construction — labels are the expensive part), SCORING runs on the
corpus.  Nothing in the training path touches corpus-sized data.

Determinism note: gradient sums are float additions whose order Spark
does not fix, so weights are ranking-grade deterministic, not
hash-grade — which is why this is a library surface pinned against an
independent numpy replica in ``tests/test_classifier.py`` rather than a
registry key.

Reference parity note: the reference engine (``/root/reference``) has
no ML surface; this is part of the LLM-curation layer the brief adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(vec_col: Column, weights: list[float], bias: float) -> Column:
    """w·x + b as one codegen expression (weights inlined as an array
    literal — dims are small by feature-hashing design)."""
    w = F.array(*[F.lit(float(v)) for v in weights])
    return F.aggregate(
        F.zip_with(vec_col, w, lambda x, wi: x * wi),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) + F.lit(float(bias))


def score_logreg(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "score",
) -> DataFrame:
    """Corpus-side scoring: ``sigmoid(w·x + b)`` as one JVM projection
    — the map-only 100 TB half of the classifier loop."""
    z = _dot(F.col(vec_col), model["weights"], model["bias"])
    return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def train_logreg(
    labeled: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    n_iters: int = 50,
    lr: float = 0.5,
    l2: float = 0.0,
) -> dict:
    """Full-batch logistic regression over a labeled sample →
    ``{weights: [...], bias, dim, n}``.  Labels are 0/1 (double or
    int).  Each iteration computes the exact batch gradient with one
    aggregation: per row the residual ``p - y`` scales the feature
    vector; positions explode and sum.  The sample is cached once —
    every iteration rescans the cached rows only.

    Raises on an empty sample or inconsistent dims: a silently
    zero-dimensional model scoring a 100 TB corpus is the worst
    possible failure mode."""
    rows = labeled.select(
        F.col(vec_col).alias("x"),
        F.col(label_col).cast("double").alias("y"),
    )
    rows.cache()
    stats = rows.select(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("x")).alias("dmin"),
        F.max(F.size("x")).alias("dmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
        # y*(1-y) == 0 iff y ∈ {0, 1}: catches a mis-typed
        # probability column (0.5) that the range check admits
        F.max(F.abs(F.col("y") * (F.lit(1.0) - F.col("y")))).alias(
            "ynonint"
        ),
    ).collect()[0]
    n, dim = stats["n"], stats["dmin"]
    if n == 0:
        rows.unpersist()
        raise ValueError("train_logreg: empty labeled sample")
    if stats["dmax"] != dim:
        rows.unpersist()
        raise ValueError(
            f"train_logreg: inconsistent feature dims "
            f"[{dim}, {stats['dmax']}]"
        )
    if not (0.0 <= stats["ymin"] and stats["ymax"] <= 1.0) or (
        stats["ynonint"] or 0.0
    ) != 0.0:
        rows.unpersist()
        raise ValueError("train_logreg: labels must be in {0, 1}")
    weights = [0.0] * dim
    bias = 0.0
    for _ in range(n_iters):
        z = _dot(F.col("x"), weights, bias)
        resid = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("y"))
        # ONE action per iteration: the bias gradient rides position 0
        # of a [1.0] ++ x explode (its feature is the constant 1), so
        # bias and per-position sums land in the same aggregation
        # instead of a second full pass over the cached sample.
        contrib = rows.select(
            resid.alias("r"),
            F.posexplode(
                F.concat(F.array(F.lit(1.0)), F.col("x"))
            ).alias("pos", "v"),
        )
        grad_rows = (
            contrib.groupBy("pos")
            .agg(F.sum(F.col("r") * F.col("v")).alias("g"))
            .collect()
        )
        gbias = 0.0
        grad = [0.0] * dim
        for r in grad_rows:
            if r["pos"] == 0:
                gbias = r["g"]
            else:
                grad[r["pos"] - 1] = r["g"]
        weights = [
            w - lr * (g / n + l2 * w) for w, g in zip(weights, grad)
        ]
        bias -= lr * (gbias / n)
    rows.unpersist()
    return {"weights": weights, "bias": bias, "dim": dim, "n": n}


def quality_filter_by_model(
    documents: DataFrame,
    model: dict,
    threshold: float = 0.5,
    text_col: str = "text",
    keep_score: bool = False,
) -> DataFrame:
    """The composed corpus pass: feature-hash ``text_col`` at the
    model's dim, score, filter by ``threshold`` — one map-only
    projection chain over the corpus (the embedding column is dropped
    on the way out; ``keep_score`` retains the probability for
    sampling weights downstream)."""
    from mapreduce_framework_for_mergesort_spark.operators.similarity import (
        feature_hash_embed,
    )

    scored = score_logreg(
        feature_hash_embed(documents, text_col=text_col,
                           dim=model["dim"], out_col="__fh"),
        model,
        vec_col="__fh",
        out_col="__score",
    ).drop("__fh")
    kept = scored.where(F.col("__score") >= threshold)
    if keep_score:
        return kept.withColumnRenamed("__score", "model_score")
    return kept.drop("__score")
