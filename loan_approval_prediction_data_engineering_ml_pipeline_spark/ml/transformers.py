"""Custom MLlib stages filling the sklearn-parity gaps (SURVEY.md §7.3).

``StringModeImputer``: MLlib's Imputer is numeric-only, but the reference
imputes categoricals with SimpleImputer(strategy='most_frequent')
(LP.ipynb:755 cell 17). This Estimator/Model pair computes per-column
modes in ONE distributed pass (unpivot → grouped count → window rank),
with sklearn's tie-break (smallest value wins — SURVEY.md §7.4.4).
"""

from __future__ import annotations

import json

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import Window as W


class _StringModeParams(Params):
    inputCols = Param(
        Params._dummy(), "inputCols", "string columns to impute", TypeConverters.toListString
    )

    def getInputCols(self) -> list[str]:
        return self.getOrDefault(self.inputCols)


class StringModeImputer(Estimator, _StringModeParams, DefaultParamsReadable, DefaultParamsWritable):
    """Most-frequent-value imputer for string columns."""

    @keyword_only
    def __init__(self, inputCols: list[str] | None = None):
        super().__init__()
        if inputCols is not None:
            self._set(inputCols=inputCols)

    def _fit(self, dataset: DataFrame) -> "StringModeImputerModel":
        cols = self.getInputCols()
        # One job for every column: unpivot to (column_name, value), count,
        # rank by (count desc, value asc) — the sklearn tie-break — and
        # keep rank 1. Two shuffles total regardless of column count.
        stacked = dataset.unpivot([], cols, "__col", "__val").where(F.col("__val").isNotNull())
        counts = stacked.groupBy("__col", "__val").agg(F.count(F.lit(1)).alias("__n"))
        w = W.partitionBy("__col").orderBy(F.desc("__n"), F.asc("__val"))
        top = counts.withColumn("__rk", F.row_number().over(w)).where(F.col("__rk") == 1)
        modes = {r["__col"]: r["__val"] for r in top.collect()}
        model = StringModeImputerModel(modesJson=json.dumps(modes))
        model._set(inputCols=cols)
        return model


class StringModeImputerModel(Model, _StringModeParams, DefaultParamsReadable, DefaultParamsWritable):
    modesJson = Param(
        Params._dummy(), "modesJson", "fitted modes as JSON", TypeConverters.toString
    )

    @keyword_only
    def __init__(self, modesJson: str = "{}"):
        super().__init__()
        self._set(modesJson=modesJson)

    @property
    def modes(self) -> dict[str, str]:
        return json.loads(self.getOrDefault(self.modesJson))

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return dataset.withColumns(
            {c: F.coalesce(F.col(c), F.lit(mode)) for c, mode in self.modes.items()}
        )
