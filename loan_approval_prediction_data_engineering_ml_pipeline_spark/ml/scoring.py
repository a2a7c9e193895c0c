"""Single-row interactive inference — the app.py analog (app.py:42-71).

Same code path as batch scoring: the request becomes a one-row frame,
the saved PipelineModel transforms it, and prediction + P(approve) are
read back. There is no second scorer; this exact function's transform
scores a billion-row frame unchanged.

The row enters as a SQL ``VALUES`` relation with typed literals, which
Spark resolves to a ``LocalRelation``. Both pipeline stages (the fused
preprocessor and the classifier) are deterministic projections, so
Catalyst's ``ConvertToLocalRelation`` evaluates the whole transform at
optimize time: the physical plan is a ``LocalTableScan`` and
``collect()`` launches 0 Spark jobs per request.
``spark.createDataFrame([row])`` is avoided because it yields a
``LogicalRDD``, which Catalyst cannot fold, so every request would pay a
job. Literals are rendered into the SQL text rather than bound as
parameters: positional markers fail inside inline tables, and named
markers cost a py4j ``lit`` per value.
"""

from __future__ import annotations

from pyspark.ml import PipelineModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.cleaning import clean_dependents
from ..functions.vectors import double_sql, ident_sql, string_sql
from ..sources.schemas import LOAN_NUMERIC_COLS, LOAN_SCHEMAS


def _value_sql(name: str, value) -> str:
    """One request value as a typed SQL literal: numeric columns are
    doubles (Python ints from a UI form coerce), every other column is a
    string; a missing value is a typed NULL."""
    if name in LOAN_NUMERIC_COLS:
        return "CAST(NULL AS DOUBLE)" if value is None else double_sql(value)
    if value is None:
        return "CAST(NULL AS STRING)"
    if not isinstance(value, str):
        raise TypeError(f"{name}: expected a string, got {type(value).__name__}")
    return string_sql(value)


def _request_frame(spark: SparkSession, row: dict) -> DataFrame:
    """``row`` as the one-row frame the pipeline was trained on: every
    applicant/financial column plus Property_Area (missing keys are
    null, Loan_ID is ignored), and the derived Dependents_num and
    Total_Income computed exactly as prepare_loan_frame does."""
    base = {f.name: None for f in LOAN_SCHEMAS["applicant_info"].fields}
    base.update({f.name: None for f in LOAN_SCHEMAS["financial_info"].fields})
    base["Property_Area"] = None
    base.update(row)
    base.pop("Loan_ID", None)

    values = ", ".join(_value_sql(k, v) for k, v in base.items())
    names = ", ".join(map(ident_sql, base))
    return spark.sql(f"SELECT * FROM VALUES ({values}) AS request({names})").withColumns({
        "Dependents_num": clean_dependents("Dependents").cast("double"),
        "Total_Income": F.col("ApplicantIncome") + F.col("CoapplicantIncome"),
    })


def score_single_row(spark: SparkSession, model: PipelineModel, row: dict) -> dict:
    """``row`` uses raw UI-shaped values (strings + numbers, Dependents
    may be '3+'), mirroring the Streamlit form dict (app.py:52-65).
    Returns ``{"prediction": int, "p_approve": float}``."""
    out = (
        model.transform(_request_frame(spark, row))
        .select(
            F.col("prediction"),
            vector_to_array(F.col("probability"))[1].alias("p_approve"),
        )
        .collect()[0]
    )
    return {"prediction": int(out["prediction"]), "p_approve": float(out["p_approve"])}
