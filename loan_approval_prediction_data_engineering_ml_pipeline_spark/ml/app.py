"""Interactive single-row inference entry point — the reference's
Streamlit app (app.py:22-78) as a CLI over the same engine code path.

Usage:

    python -m loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.app \
        --model /path/to/saved_model \
        --row '{"Gender":"Male","Married":"Yes","Dependents":"3+", ...}'

With ``--train-demo`` (no --model) it first trains on the deterministic
loan fixture and then scores the row — an end-to-end smoke of the whole
reference dataflow from one command. Output: one JSON line with
``prediction`` (1=approve like app.py's success branch) and
``p_approve``.
"""

from __future__ import annotations

import argparse
import json
import sys

from ..sources.schemas import LOAN_NUMERIC_COLS


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="Loan-approval single-row scorer")
    mode = parser.add_mutually_exclusive_group(required=True)
    mode.add_argument("--model", help="path to a saved PipelineModel")
    mode.add_argument("--train-demo", action="store_true",
                      help="train on the loan fixture instead of loading --model")
    parser.add_argument("--row", required=True, help="applicant record as a JSON object")
    args = parser.parse_args(argv)

    # validate the row BEFORE paying for a SparkSession boot
    try:
        row = json.loads(args.row)
    except json.JSONDecodeError as exc:
        parser.error(f"--row is not valid JSON: {exc}")
    if not isinstance(row, dict):
        parser.error("--row must be a JSON object")
    # natural JSON numbers parse as int; the schema wants double
    for k in LOAN_NUMERIC_COLS:
        if k in row and row[k] is not None:
            row[k] = float(row[k])

    from pyspark.ml import PipelineModel

    from ..session import get_spark
    from .scoring import score_single_row

    spark = get_spark(app_name="loan_scorer")
    if args.model:
        model = PipelineModel.load(args.model)
    else:
        from pyspark.ml.classification import LogisticRegression

        from ..sources.loan_fixtures import generate_loan_tables
        from .pipeline import build_pipeline, prepare_loan_frame

        t = generate_loan_tables(spark, seed=42)
        df = prepare_loan_frame(t["applicant_info"], t["financial_info"], t["loan_info"])
        clf = LogisticRegression(maxIter=500, labelCol="label", featuresCol="features")
        model = build_pipeline(clf).fit(df)

    out = score_single_row(spark, model, row)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
