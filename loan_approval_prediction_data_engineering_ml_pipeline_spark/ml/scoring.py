"""Single-row interactive inference — the app.py analog (app.py:42-71).

A request is one SQL statement. The row enters as a ``VALUES`` relation
with typed literals, with the derived Dependents_num and Total_Income
computed from ``pipeline.DERIVED_SQL``, the text that also shapes the
training frame.

The model the engine trains, [``FusedPreprocessorModel``, binomial
``LogisticRegressionModel``], is compiled into that statement once per
model: the fused stage's slot expressions, ``margin = Σ wᵢ·slotᵢ + b``,
``p_approve = 1 − 1/(1 + exp(margin))`` (MLlib's ``raw2probability``)
and ``prediction = margin > log(t/(1−t))`` (``raw2prediction``, the rule
``transform`` applies; it is ``p_approve > t`` up to rounding). The text
is kept on the ``PipelineModel``, keyed by its stages, the fused stage's
stats and the threshold, so a later ``setThreshold`` re-renders it. A
request is then ``spark.sql(statement).collect()``: 9 py4j round trips
on the calling thread, where ``transform`` costs about 260, mostly
pyspark re-sending the classifier's params and wrapping each column
expression.

NaN: Spark SQL orders NaN above every double, so ``NaN > x`` is true in
SQL and false in the JVM's Scala comparison. The statement guards the
comparison with ``isnan``, so a NaN margin (e.g. +∞ and −∞ in two inputs
whose weights share a sign) predicts 0 with ``p_approve`` NaN, as
``transform`` does.

Any other pipeline (a RandomForest, a multinomial LR, other stages) has
no SQL rendering here and runs ``model.transform`` over the same request
relation; that is the only path for those models.

Both paths are job-free. The ``VALUES`` relation resolves to a
``LocalRelation`` and every stage is a deterministic projection, so
Catalyst's ``ConvertToLocalRelation`` evaluates the request at optimize
time: the physical plan is a ``LocalTableScan`` and ``collect()``
launches 0 Spark jobs. ``spark.createDataFrame([row])`` is avoided
because it yields a ``LogicalRDD``, which Catalyst cannot fold. Literals
are rendered into the SQL text rather than bound as parameters:
positional markers fail inside inline tables, and named markers cost a
py4j ``lit`` per value. The statement is spliced by concatenation around
the request, never by formatting text that holds user values.
"""

from __future__ import annotations

import math

from pyspark.ml import PipelineModel
from pyspark.ml.classification import LogisticRegressionModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import SparkSession, functions as F

from ..functions.vectors import double_sql, ident_sql, string_sql
from ..sources.schemas import LOAN_NUMERIC_COLS, LOAN_SCHEMAS
from .pipeline import DERIVED_SQL
from .transformers import FusedPreprocessorModel


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


def _request_sql(row: dict) -> str:
    """``row`` as a one-row query shaped like the training frame: every
    applicant/financial column plus Property_Area (missing keys are
    null, Loan_ID is ignored), then the derived columns."""
    base = {f.name: None for f in LOAN_SCHEMAS["applicant_info"].fields}
    base.update({f.name: None for f in LOAN_SCHEMAS["financial_info"].fields})
    base["Property_Area"] = None
    base.update(row)
    base.pop("Loan_ID", None)

    values = ", ".join(_value_sql(k, v) for k, v in base.items())
    names = ", ".join(map(ident_sql, base))
    derived = "".join(", " + sql + " AS " + ident_sql(c) for c, sql in DERIVED_SQL.items())
    return "SELECT *" + derived + " FROM VALUES (" + values + ") AS request(" + names + ")"


def _compile(pre: FusedPreprocessorModel, lr: LogisticRegressionModel) -> tuple[str, str] | None:
    """The scoring statement as the text before and after the request
    query, or None when ``lr`` is not a binomial model over ``pre``'s
    slots."""
    slots = pre.slot_sql()
    if lr.numClasses != 2 or lr.getFamily() == "multinomial" or lr.numFeatures != len(slots):
        return None
    w = lr.coefficients.toArray()
    # BLAS.dot(features, coefficients) + intercept, every term kept: 0·∞ is NaN there too
    margin = (
        "(" + " + ".join(double_sql(wi) + " * " + s for wi, s in zip(w, slots)) + ") + "
        + double_sql(lr.intercept)
    )
    t = lr.getThreshold()
    raw_t = -math.inf if t == 0.0 else math.inf if t == 1.0 else math.log(t / (1.0 - t))
    head = (
        "SELECT CASE WHEN margin > " + double_sql(raw_t) + " AND NOT isnan(margin)"
        " THEN 1 ELSE 0 END AS prediction, 1.0D - 1.0D / (1.0D + exp(margin)) AS p_approve"
        " FROM (SELECT " + margin + " AS margin FROM ("
    )
    return head, ") AS request) AS scored"


def _statement(model: PipelineModel) -> tuple[str, str] | None:
    """``_compile``'s parts for ``model``, rendered once per stages,
    stats and threshold and kept on the model; None for a pipeline of
    any other form."""
    stages = tuple(model.stages)
    if not (
        len(stages) == 2
        and isinstance(stages[0], FusedPreprocessorModel)
        and isinstance(stages[1], LogisticRegressionModel)
    ):
        return None
    pre, lr = stages
    key = (stages, pre.getOrDefault(pre.statsJson), lr.getThreshold())
    cached = getattr(model, "_scoring_sql", None)
    if cached is None or cached[0] != key:
        cached = model._scoring_sql = (key, _compile(pre, lr))
    return cached[1]


def score_single_row(spark: SparkSession, model: PipelineModel, row: dict) -> dict:
    """``row`` uses raw UI-shaped values (strings + numbers, Dependents
    may be '3+'), mirroring the Streamlit form dict (app.py:52-65).
    Returns ``{"prediction": int, "p_approve": float}``."""
    request = _request_sql(row)
    parts = _statement(model)
    if parts is not None:
        # args={}: pyspark ships its default (an empty list) through four
        # py4j calls, an empty dict through one
        out = spark.sql(parts[0] + request + parts[1], args={}).collect()[0]
    else:
        out = (
            model.transform(spark.sql(request))
            .select(
                F.col("prediction"),
                vector_to_array(F.col("probability"))[1].alias("p_approve"),
            )
            .collect()[0]
        )
    return {"prediction": int(out["prediction"]), "p_approve": float(out["p_approve"])}
