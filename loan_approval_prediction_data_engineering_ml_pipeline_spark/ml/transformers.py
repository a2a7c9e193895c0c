"""The loan preprocessor as ONE fitted, persistable MLlib stage.

``FusedPreprocessor`` fits median-impute → mode-impute → one-hot →
standard-scale in one global aggregation: per numeric column the exact
``percentile_disc(0.5)`` (the element MLlib's exact ``Imputer`` picks),
count, ``avg`` and ``stddev_samp`` of the non-missing values (NaN is
missing, as for ``Imputer``); per categorical column ``mode(c, true)``
and ``array_sort(collect_set(c))``. The scaler needs the moments of the
IMPUTED column, which adds k copies of the median to the n observed
values, so the driver merges the two by Chan's parallel-variance formula
instead of making a second pass.

``FusedPreprocessorModel`` emits ``features`` as one projection, rendered
to SQL text once per fitted model. Its ``ml_attr`` metadata names numeric
slots after their column and one-hot slots ``col_value``, typed binary so
tree learners keep treating them as categorical.
"""

from __future__ import annotations

import json
import math

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.functions import array_to_vector
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasOutputCol
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame, functions as F

from ..functions.vectors import double_sql, ident_sql, string_sql


def _observed(c: str) -> str:
    """Column ``c`` as a double with NaN turned into NULL (missing)."""
    return f"nanvl(CAST({ident_sql(c)} AS DOUBLE), CAST(NULL AS DOUBLE))"


class _FusedParams(HasOutputCol):
    numericCols = Param(
        Params._dummy(), "numericCols", "numeric columns: median-impute, then scale",
        TypeConverters.toListString,
    )
    categoricalCols = Param(
        Params._dummy(), "categoricalCols", "string columns: mode-impute, then one-hot",
        TypeConverters.toListString,
    )

    def __init__(self):
        super().__init__()
        self._setDefault(numericCols=[], categoricalCols=[], outputCol="features")


class FusedPreprocessor(Estimator, _FusedParams, DefaultParamsReadable, DefaultParamsWritable):
    """Median/mode imputation, alphabetical one-hot and standard scaling
    of the numerics, fitted in one aggregation job."""

    @keyword_only
    def __init__(self, *, numericCols=None, categoricalCols=None, outputCol="features"):
        super().__init__()
        self._set(**self._input_kwargs)

    def _fit(self, dataset: DataFrame) -> "FusedPreprocessorModel":
        num = self.getOrDefault(self.numericCols)
        cat = self.getOrDefault(self.categoricalCols)
        aggs = ["count(1) AS total"]
        for i, x in enumerate(map(_observed, num)):
            aggs += [f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {x}) AS m{i}",
                     f"count({x}) AS n{i}", f"avg({x}) AS mu{i}", f"stddev_samp({x}) AS sd{i}"]
        for i, c in enumerate(map(ident_sql, cat)):
            aggs += [f"mode({c}, true) AS mode{i}", f"array_sort(collect_set({c})) AS vocab{i}"]
        r = dataset.selectExpr(*aggs).first()

        total, numeric = r["total"], {}
        for i, c in enumerate(num):
            n, med, mu = r[f"n{i}"], r[f"m{i}"], r[f"mu{i}"]
            if not n:
                raise ValueError(
                    f"surrogate cannot be computed: all the values in {c} are null or NaN"
                )
            # Chan et al.: merge the n observed values with k = total - n
            # copies of the median (zero spread of their own)
            k = total - n
            m2 = (r[f"sd{i}"] or 0.0) ** 2 * (n - 1) + (med - mu) ** 2 * n * k / total
            std = math.sqrt(m2 / (total - 1)) if total > 1 else 0.0
            numeric[c] = {"median": med, "mean": mu + (med - mu) * k / total, "std": std}
        categorical = {
            c: {"mode": r[f"mode{i}"], "vocab": list(r[f"vocab{i}"])} for i, c in enumerate(cat)
        }
        stats = {"numeric": numeric, "categorical": categorical}
        return self._copyValues(FusedPreprocessorModel(statsJson=json.dumps(stats)))


class FusedPreprocessorModel(Model, _FusedParams, DefaultParamsReadable, DefaultParamsWritable):
    statsJson = Param(
        Params._dummy(), "statsJson",
        "fitted medians, means, stds, modes and vocabularies as JSON", TypeConverters.toString,
    )

    @keyword_only
    def __init__(self, *, statsJson: str = '{"numeric": {}, "categorical": {}}'):
        super().__init__()
        self._set(statsJson=statsJson)
        self._rendered: tuple[str, list[str], dict] | None = None

    @property
    def stats(self) -> dict:
        """``{"numeric": {c: {median, mean, std}}, "categorical": {c:
        {mode, vocab}}}``, each in column order."""
        return json.loads(self.getOrDefault(self.statsJson))

    def _render(self) -> tuple[list[str], dict]:
        """One SQL expression per feature slot plus the ``ml_attr``
        metadata, rendered once per fitted stats, so a request costs O(1)
        py4j calls however many slots there are."""
        key = self.getOrDefault(self.statsJson)
        if self._rendered is None or self._rendered[0] != key:
            stats, slots, numeric, binary = self.stats, [], [], []
            for c, s in stats["numeric"].items():
                # StandardScaler multiplies by 1/σ, and maps σ = 0 to 0.0
                slots.append(
                    f"(coalesce({_observed(c)}, {double_sql(s['median'])}) - "
                    f"{double_sql(s['mean'])}) * {double_sql(1.0 / s['std'])}"
                    if s["std"] else "0.0D"
                )
                numeric.append({"idx": len(numeric), "name": c})
            for c, s in stats["categorical"].items():
                for v in s["vocab"]:  # empty, and mode None, for an all-null column
                    filled = f"coalesce({ident_sql(c)}, {string_sql(s['mode'])})"
                    slots.append(f"CASE WHEN {filled} = {string_sql(v)} THEN 1.0D ELSE 0.0D END")
                    binary.append({"idx": len(slots) - 1, "name": f"{c}_{v}"})
            attrs = {k: v for k, v in (("numeric", numeric), ("binary", binary)) if v}
            meta = {"ml_attr": {"attrs": attrs, "num_attrs": len(slots)}}
            self._rendered = (key, slots, meta)
        return self._rendered[1], self._rendered[2]

    def slot_sql(self) -> list[str]:
        """The SQL text of each ``features`` slot, in slot order, over the
        input columns; ``ml.scoring`` compiles it into its statement."""
        return self._render()[0]

    def _transform(self, dataset: DataFrame) -> DataFrame:
        slots, meta = self._render()
        out = self.getOrDefault(self.outputCol)
        features = array_to_vector(F.expr("array(" + ", ".join(slots) + ")"))
        return dataset.withColumn(out, features.alias(out, metadata=meta))
