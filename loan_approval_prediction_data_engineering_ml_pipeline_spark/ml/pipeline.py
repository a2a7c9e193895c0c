"""The reference's end-to-end ML dataflow (LP.ipynb cells 7-22),
Spark-native: star join → cleaning → MLlib Pipeline [fused preprocessor
→ classifier] → model-selection loop → persisted PipelineModel.

The preprocessor is ONE stage (``transformers.FusedPreprocessor``),
fitted in one aggregation pass and applied as one projection. It keeps
the sklearn-parity decisions (SURVEY.md §7.4):
- exact medians, like SimpleImputer (MLlib's Imputer defaults to
  approximate); NaN and null are both missing;
- most-frequent categorical imputation, smallest value on ties;
- one slot per training category in alphabetical order, so an unknown
  category encodes as all zeros — sklearn OneHotEncoder(
  handle_unknown='ignore', drop=None);
- standard scaling (sample std) of the NUMERIC slots only, never the
  one-hot block — sklearn's ColumnTransformer semantics.
Model selection is by accuracy/F1, NOT the reference's r2_score bug
(LP.ipynb:841); the divergence is documented in tests.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression, RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.sql import DataFrame, functions as F

from ..functions.cleaning import dependents_sql, label_encode
from ..functions.vectors import ident_sql
from ..sources.schemas import LOAN_CATEGORICAL_COLS, LOAN_LABEL_COL, LOAN_NUMERIC_COLS
from .transformers import FusedPreprocessor

# the derived columns as SQL over the joined loan columns: the training
# frame (prepare_loan_frame) and the single-row request (ml.scoring)
# both compute them from this text
DERIVED_SQL = {
    "Dependents_num": "CAST(" + dependents_sql(ident_sql("Dependents")) + " AS DOUBLE)",
    "Total_Income": ident_sql("ApplicantIncome") + " + " + ident_sql("CoapplicantIncome"),
}
# the preprocessor's default inputs: Dependents enters as its cleaned
# numeric twin, never as a category
NUMERIC_FEATURES = [c for c in LOAN_NUMERIC_COLS if c != "Dependents"] + list(DERIVED_SQL)
CATEGORICAL_FEATURES = [c for c in LOAN_CATEGORICAL_COLS if c != "Dependents"]


def prepare_loan_frame(
    applicant: DataFrame, financial: DataFrame, loan: DataFrame
) -> DataFrame:
    """LP.ipynb cells 7+14+20 + app.py:50: 3-way star merge on Loan_ID,
    drop the key, '3+' -> 3 cast, Y/N -> 1/0 label, Total_Income."""
    df = applicant.join(financial, "Loan_ID", "inner").join(loan, "Loan_ID", "inner").drop("Loan_ID")
    return (
        df.withColumns({c: F.expr(sql) for c, sql in DERIVED_SQL.items()})
        .withColumn("label", label_encode(LOAN_LABEL_COL, {"Y": 1, "N": 0}).cast("double"))
        .drop(LOAN_LABEL_COL)
    )


def add_engineered_features(df: DataFrame) -> DataFrame:
    """The reference README's described-but-unimplemented features
    (README.md:9,13 — EMI proxy, loan-to-income, log transforms),
    realized as codegen'd column arithmetic. Guards: try-division by
    null/zero terms yields null, which the median imputer then fills."""
    return (
        df.withColumn(
            "EMI_proxy", F.col("LoanAmount") / F.nullif(F.col("Loan_Amount_Term"), F.lit(0.0))
        )
        .withColumn(
            "Loan_to_Income", F.col("LoanAmount") / F.nullif(F.col("Total_Income"), F.lit(0.0))
        )
        .withColumn("Log_Total_Income", F.log1p(F.col("Total_Income")))
        .withColumn("Log_LoanAmount", F.log1p(F.col("LoanAmount")))
    )


ENGINEERED_NUMERIC = ["EMI_proxy", "Loan_to_Income", "Log_Total_Income", "Log_LoanAmount"]


def build_cross_validator(clf=None, *, param_grid=None, n_folds: int = 3, seed: int = 42):
    """README.md:15's k-fold CV + grid search, Spark-native: CrossValidator
    over the full preprocessing+model pipeline (folds re-fit the
    preprocessor — no test-fold leakage, unlike refitting stages manually).

    ``param_grid``: list of param maps (ParamGridBuilder().build()); the
    built-in default grid only applies to LogisticRegression — any other
    estimator must bring its own grid."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    clf = clf if clf is not None else LogisticRegression(
        maxIter=200, labelCol="label", featuresCol="features"
    )
    pipe = build_pipeline(clf)
    if param_grid is not None:
        grid = param_grid
    elif isinstance(clf, LogisticRegression):
        grid = (
            ParamGridBuilder()
            .addGrid(clf.regParam, [0.0, 0.1])
            .addGrid(clf.elasticNetParam, [0.0, 0.5])
            .build()
        )
    else:
        raise ValueError(
            f"no default grid for {type(clf).__name__}; pass param_grid="
            "ParamGridBuilder().addGrid(...).build()"
        )
    evaluator = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    )
    return CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=n_folds,
        seed=seed,
        parallelism=4,
    )


def candidate_models(seed: int = 42) -> dict[str, object]:
    """LP.ipynb:772-777 cell 18: the two candidate classifiers with the
    reference's hyperparameters mapped to MLlib."""
    return {
        "RandomForestClassifier": RandomForestClassifier(
            numTrees=200, maxDepth=8, minInstancesPerNode=10, seed=seed,
            labelCol="label", featuresCol="features",
        ),
        "LogisticRegression": LogisticRegression(
            maxIter=2000, labelCol="label", featuresCol="features"
        ),
    }


def build_pipeline(clf, numeric_cols=None, categorical_cols=None) -> Pipeline:
    """[fused preprocessor (the ColumnTransformer analog, LP.ipynb:748-763
    cell 17), ``clf``]; the column lists default to the loan features."""
    pre = FusedPreprocessor(
        numericCols=numeric_cols or NUMERIC_FEATURES,
        categoricalCols=categorical_cols or CATEGORICAL_FEATURES,
    )
    return Pipeline(stages=[pre, clf])


def train_and_select(
    train: DataFrame,
    test: DataFrame,
    *,
    metric: str = "accuracy",
    seed: int = 42,
) -> tuple[str, PipelineModel, dict[str, dict[str, float]]]:
    """LP.ipynb:827-848 cell 21 — fit each candidate, score on the test
    split, keep the argmax. Selection metric is accuracy (intended
    capability), not the reference's r2_score bug."""
    from .evaluate import classification_metrics

    results: dict[str, dict[str, float]] = {}
    best_name, best_model, best_score = None, None, float("-inf")
    for name, clf in candidate_models(seed).items():
        model = build_pipeline(clf).fit(train)
        pred = model.transform(test)
        metrics = classification_metrics(pred)
        results[name] = metrics
        if metrics[metric] > best_score:
            best_name, best_model, best_score = name, model, metrics[metric]
    return best_name, best_model, results
