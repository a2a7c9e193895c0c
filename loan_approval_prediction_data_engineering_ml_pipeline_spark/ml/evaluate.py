"""Evaluation operators (A10, LP.ipynb:827-848 cell 21): confusion matrix
as a grouped aggregate, classification metrics via MLlib evaluators,
ranking metrics (ROC AUC / PR AUC) over the probability column."""

from __future__ import annotations

from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.sql import DataFrame, functions as F


def confusion_matrix(pred: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> DataFrame:
    """sklearn confusion_matrix as a distributed groupBy — cells are
    (label, prediction) counts."""
    return (
        pred.groupBy(label_col, pred_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(label_col, pred_col)
    )


def classification_metrics(pred: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> dict[str, float]:
    """accuracy / weighted precision / weighted recall / f1 — the
    classification_report surface."""
    out = {}
    for metric, key in [
        ("accuracy", "accuracy"),
        ("weightedPrecision", "precision"),
        ("weightedRecall", "recall"),
        ("f1", "f1"),
    ]:
        ev = MulticlassClassificationEvaluator(
            labelCol=label_col, predictionCol=pred_col, metricName=metric
        )
        out[key] = ev.evaluate(pred)
    return out


def ranking_metrics(
    pred: DataFrame, label_col: str = "label", raw_col: str = "probability"
) -> dict[str, float]:
    """Threshold-free quality: areaUnderROC / areaUnderPR over the score
    column (the classification_report has no analog; the reference never
    looked at its probabilities beyond app.py's single-row display).
    MLlib computes both from a distributed score-sorted aggregation —
    no driver-side sort."""
    out = {}
    for metric, key in [("areaUnderROC", "roc_auc"), ("areaUnderPR", "pr_auc")]:
        ev = BinaryClassificationEvaluator(
            labelCol=label_col, rawPredictionCol=raw_col, metricName=metric
        )
        out[key] = ev.evaluate(pred)
    return out


def feature_importances(model, scored: DataFrame, features_col: str = "features") -> list[tuple[str, float]]:
    """Named feature importances from a fitted tree-ensemble pipeline.

    Maps the classifier's ``featureImportances`` vector back to feature
    names via the ``ml_attr`` metadata the preprocessor stamps on the
    features column (numeric slots carry their column name, one-hot
    slots ``col_value``). Driver-side work is just the vector + metadata —
    no data movement. Returns (name, importance) sorted descending;
    importances sum to 1 for RF/GBT.
    """
    clf = model.stages[-1]
    if not hasattr(clf, "featureImportances"):
        raise TypeError(f"{type(clf).__name__} exposes no featureImportances")
    imp = clf.featureImportances
    attrs_meta = scored.schema[features_col].metadata["ml_attr"]["attrs"]
    names = {a["idx"]: a["name"] for group in attrs_meta.values() for a in group}
    pairs = [(names.get(i, f"f{i}"), float(imp[i])) for i in range(imp.size)]
    return sorted(pairs, key=lambda p: (-p[1], p[0]))
