"""ML-pipeline parity tests (SURVEY.md §5.2.2-4): reference invariants on
the loan fixture, preprocessing semantics, stratified split, model
selection, persistence, single-row scoring."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml import (
    FusedPreprocessor,
    build_pipeline,
    confusion_matrix,
    prepare_loan_frame,
    score_single_row,
    stratified_split,
    train_and_select,
)
from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions.cleaning import clean_dependents
from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.pipeline import (
    CATEGORICAL_FEATURES,
    NUMERIC_FEATURES,
    candidate_models,
)
from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.relational import (
    duplicate_count,
    null_audit,
    value_counts,
)
from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loan_fixtures import (
    NULL_COUNTS,
    generate_loan_tables,
)


@pytest.fixture(scope="module")
def loan_tables(spark):
    return generate_loan_tables(spark, seed=42)


@pytest.fixture(scope="module")
def loan_df(spark, loan_tables):
    return prepare_loan_frame(**{
        "applicant": loan_tables["applicant_info"],
        "financial": loan_tables["financial_info"],
        "loan": loan_tables["loan_info"],
    }).cache()


def test_reference_invariants(loan_tables, loan_df):
    # post-join shape: 614 rows (LP.ipynb:552-556 cell 9)
    assert loan_df.count() == 614
    # null audit matches the reference's vector (LP.ipynb:625-626 cell 11)
    audit = {
        r["column_name"]: r["n_nulls"]
        for r in null_audit(
            loan_tables["applicant_info"]
            .join(loan_tables["financial_info"], "Loan_ID")
            .join(loan_tables["loan_info"], "Loan_ID")
        ).collect()
    }
    for col, n in NULL_COUNTS.items():
        assert audit[col] == n, f"{col}: {audit[col]} != {n}"
    # duplicate rows: 0 (LP.ipynb:646-647 cell 12)
    assert duplicate_count(loan_df).collect()[0]["n_duplicates"] == 0
    # class balance Y 0.687296 / N 0.312704 (LP.ipynb:667-669 cell 13)
    props = {r["label"]: r["proportion"] for r in value_counts(loan_df, "label", normalize=True).collect()}
    assert props[1.0] == pytest.approx(0.687296, abs=1e-6)
    assert props[0.0] == pytest.approx(0.312704, abs=1e-6)


def test_dependents_rewrite(loan_df):
    # '3+' -> 3.0 (LP.ipynb:678-681 cell 14); nulls preserved for imputation
    vals = {r["Dependents_num"] for r in loan_df.select("Dependents_num").distinct().collect()}
    assert vals == {0.0, 1.0, 2.0, 3.0, None}
    # a Column argument goes through the same rule as a column name
    pairs = loan_df.select(
        clean_dependents("Dependents").alias("a"), clean_dependents(F.col("Dependents")).alias("b")
    ).distinct().collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(0, 0), (1, 1), (2, 2), (3, 3), (None, None)}


def _slots(out, col: str = "features") -> list[list[float]]:
    from pyspark.ml.functions import vector_to_array

    return [r["v"] for r in out.select(vector_to_array(col).alias("v")).collect()]


def _slot_index(out, name: str, col: str = "features") -> int:
    attrs = out.schema[col].metadata["ml_attr"]["attrs"]
    return next(a["idx"] for group in attrs.values() for a in group if a["name"] == name)


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_string_mode_imputer_tiebreak_and_fill(spark):
    df = spark.createDataFrame(
        [(1, "b", "x"), (2, "b", "x"), (3, "a", "y"), (4, "a", None), (5, None, "y")],
        ["i", "c", "d"],
    )
    model = FusedPreprocessor(categoricalCols=["c"]).fit(df)
    # tie between a(2) and b(2): sklearn picks the smallest -> 'a'
    assert model.stats["categorical"]["c"]["mode"] == "a"
    out = model.transform(df.orderBy("i"))
    # the input columns stay in place and pass through; features is appended
    assert out.columns == ["i", "c", "d", "features"]
    assert out.where(F.col("c").isNull()).count() == 1
    assert out.where(F.col("d").isNull()).count() == 1
    # the null row is filled with 'a', so 'a' has 3 rows and no row is all zeros
    slots = _slots(out)
    a = _slot_index(out, "c_a")
    assert slots[4] == slots[2] and slots[4][a] == 1.0
    assert sum(v[a] for v in slots) == 3
    assert all(sum(v) == 1.0 for v in slots)


def test_stratified_split_exact_and_deterministic(loan_df):
    tr1, te1 = stratified_split(loan_df, "label", test_size=0.2, seed=42)
    tr2, te2 = stratified_split(loan_df, "label", test_size=0.2, seed=42)
    assert tr1.count() + te1.count() == 614
    # per-class train counts = ceil(0.8 * n_class): 422 -> 338, 192 -> 154
    by_class = {r["label"]: r["count"] for r in tr1.groupBy("label").count().collect()}
    assert by_class == {1.0: 338, 0.0: 154}
    assert tr1.count() == tr2.count() and te1.count() == te2.count()


def test_preprocessing_semantics(spark, loan_df):
    model = FusedPreprocessor(
        numericCols=NUMERIC_FEATURES, categoricalCols=CATEGORICAL_FEATURES
    ).fit(loan_df)
    out = model.transform(loan_df)
    # exact median imputation: LoanAmount median from non-null values
    expected_median = loan_df.approxQuantile("LoanAmount", [0.5], 0.0)[0]
    assert model.stats["numeric"]["LoanAmount"]["median"] == expected_median
    slots = _slots(out)
    # no nulls or NaNs after imputation in any feature slot
    assert all(not math.isnan(x) for v in slots for x in v)
    # scaled numeric block: mean ~0, std ~1 for every numeric slot
    for i in range(len(NUMERIC_FEATURES)):
        xs = [v[i] for v in slots]
        mean = sum(xs) / len(xs)
        std = math.sqrt(sum((x - mean) ** 2 for x in xs) / (len(xs) - 1))
        assert abs(mean) < 1e-9
        assert std == pytest.approx(1.0, abs=1e-9)
    # one-hot layout: one slot per seen category, alphabetical
    genders = sorted(
        r[0] for r in loan_df.select("Gender").where(F.col("Gender").isNotNull()).distinct().collect()
    )
    binary = out.schema["features"].metadata["ml_attr"]["attrs"]["binary"]
    assert [a["name"] for a in binary if a["name"].startswith("Gender_")] == [
        f"Gender_{g}" for g in genders
    ]  # sklearn drop=None layout
    # the one-hot block is left unscaled
    assert {x for v in slots for x in v[len(NUMERIC_FEATURES):]} == {0.0, 1.0}


def test_unknown_category_encodes_all_zeros(spark, loan_df):
    model = FusedPreprocessor(
        numericCols=NUMERIC_FEATURES, categoricalCols=CATEGORICAL_FEATURES
    ).fit(loan_df)
    weird = model.transform(loan_df.limit(1).withColumn("Property_Area", F.lit("Atlantis")))
    vec = _slots(weird)[0]
    area = [
        _slot_index(weird, f"Property_Area_{v}")
        for v in model.stats["categorical"]["Property_Area"]["vocab"]
    ]
    assert len(area) == 3
    assert [vec[i] for i in area] == [0.0] * 3  # handle_unknown='ignore' parity


def test_fused_preprocessor_missing_numerics(spark):
    train = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (math.nan, 5.0), (None, 5.0), (10.0, 5.0)], "x double, z double"
    )
    model = FusedPreprocessor(numericCols=["x", "z"]).fit(train)
    # NaN and null are both missing: median of {1, 2, 10}
    assert model.stats["numeric"]["x"]["median"] == 2.0
    imputed = [1.0, 2.0, 2.0, 2.0, 10.0]
    mean = sum(imputed) / 5
    std = math.sqrt(sum((x - mean) ** 2 for x in imputed) / 4)
    assert model.stats["numeric"]["x"]["mean"] == pytest.approx(mean, rel=1e-15)
    assert model.stats["numeric"]["x"]["std"] == pytest.approx(std, rel=1e-15)
    # a request with NaN or null scores as the median; a zero-variance
    # column scales to 0.0, as StandardScaler does
    req = spark.createDataFrame([(math.nan, 7.0), (None, None), (10.0, 5.0)], "x double, z double")
    got = _slots(model.transform(req))
    assert [v[0] for v in got] == pytest.approx(
        [(2.0 - mean) / std, (2.0 - mean) / std, (10.0 - mean) / std], rel=1e-12
    )
    assert [v[1] for v in got] == [0.0, 0.0, 0.0]


def test_fused_preprocessor_all_missing_numeric_raises(spark):
    df = spark.createDataFrame([(None, 1.0), (math.nan, 2.0)], "x double, y double")
    with pytest.raises(ValueError, match="all the values in x are null or NaN"):
        FusedPreprocessor(numericCols=["x", "y"]).fit(df)


def test_fused_fit_is_one_pass(spark, loan_tables):
    from pyspark.ml.classification import LogisticRegression

    # an uncached frame, so both sides pay the same star join
    df = prepare_loan_frame(
        loan_tables["applicant_info"], loan_tables["financial_info"], loan_tables["loan_info"]
    )
    pre = FusedPreprocessor(numericCols=NUMERIC_FEATURES, categoricalCols=CATEGORICAL_FEATURES)
    _, count_jobs = _jobs(spark, "test_fused_fit_count", df.count)
    _, fit_jobs = _jobs(spark, "test_fused_fit", lambda: pre.fit(df))
    assert fit_jobs == count_jobs
    model = build_pipeline(LogisticRegression(maxIter=5, labelCol="label")).fit(df)
    assert len(model.stages) == 2


def _mllib_reference_stages(df, num, cat):
    """The 11-stage MLlib preprocessor the fused stage replaced: exact
    median Imputer, mode imputation, 5 alphabetical keep-bucket
    StringIndexers, a dropLast OneHotEncoder (the dropped slot is the
    keep bucket, so unknowns are all zeros), a numeric assembler, a
    StandardScaler and the final assembler. Modes come from a plain
    grouped count here, independent of the fused stage."""
    from pyspark.ml.feature import (
        Imputer,
        OneHotEncoder,
        SQLTransformer,
        StandardScaler,
        StringIndexer,
        VectorAssembler,
    )

    modes = {
        c: df.where(F.col(c).isNotNull()).groupBy(c).count()
        .orderBy(F.desc("count"), F.asc(c)).first()[0]
        for c in cat
    }
    fill = ", ".join(f"coalesce({c}, '{m}') AS {c}__m" for c, m in modes.items())
    return [
        Imputer(strategy="median", relativeError=0.0, inputCols=num,
                outputCols=[f"{c}__imp" for c in num]),
        SQLTransformer(statement=f"SELECT *, {fill} FROM __THIS__"),
        *[StringIndexer(inputCol=f"{c}__m", outputCol=f"{c}__idx", handleInvalid="keep",
                        stringOrderType="alphabetAsc") for c in cat],
        OneHotEncoder(inputCols=[f"{c}__idx" for c in cat], outputCols=[f"{c}__oh" for c in cat],
                      dropLast=True),
        VectorAssembler(inputCols=[f"{c}__imp" for c in num], outputCol="num_vec"),
        StandardScaler(inputCol="num_vec", outputCol="num_scaled", withMean=True, withStd=True),
        VectorAssembler(inputCols=["num_scaled"] + [f"{c}__oh" for c in cat], outputCol="features"),
    ]


def test_fused_preprocessor_matches_mllib_stages(spark, loan_df, tmp_path):
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import LogisticRegression, RandomForestClassifier
    from pyspark.ml.functions import vector_to_array

    num, cat = NUMERIC_FEATURES, CATEGORICAL_FEATURES
    df = loan_df.withColumn("rid", F.monotonically_increasing_id())
    ref_stages = _mllib_reference_stages(df, num, cat)
    assert len(ref_stages) == 11
    pre = FusedPreprocessor(numericCols=num, categoricalCols=cat).fit(df)
    ref_feat = Pipeline(stages=ref_stages).fit(df).transform(df).cache()
    feat = pre.transform(df).cache()

    def rows(out):
        return out.orderBy("rid").select(
            vector_to_array("features").alias("f"), "prediction",
            vector_to_array("probability").alias("p"),
        ).collect()

    lr = LogisticRegression(maxIter=10, labelCol="label")
    ref_lr, lr_model = lr.fit(ref_feat), lr.fit(feat)
    ref_rows, got = rows(ref_lr.transform(ref_feat)), rows(lr_model.transform(feat))
    for a, b in zip(ref_rows, got, strict=True):
        assert a["f"] == pytest.approx(b["f"], abs=1e-12, rel=0)
    assert [a["prediction"] for a in ref_rows] == [b["prediction"] for b in got]
    assert list(lr_model.coefficients) == pytest.approx(
        list(ref_lr.coefficients), abs=1e-9, rel=0
    )
    assert lr_model.intercept == pytest.approx(ref_lr.intercept, abs=1e-9, rel=0)

    # names: the scaler's anonymous "num_scaled_<i>" slots are the numeric
    # columns, "<c>__oh_<v>" one-hot slots are "<c>_<v>", typed binary
    def named(out, rename=lambda n: n):
        attrs = out.schema["features"].metadata["ml_attr"]["attrs"]
        return {k: sorted((a["idx"], rename(a["name"])) for a in v) for k, v in attrs.items()}

    def ref_name(n):
        if n.startswith("num_scaled_"):
            return num[int(n.removeprefix("num_scaled_"))]
        c, v = n.split("__oh_")
        return f"{c}_{v}"

    assert named(feat) == named(ref_feat, ref_name)

    # binary slots keep a tree learner's categorical handling
    rf = RandomForestClassifier(numTrees=10, maxDepth=5, seed=7, labelCol="label")
    assert [r["prediction"] for r in rows(rf.fit(ref_feat).transform(ref_feat))] == [
        r["prediction"] for r in rows(rf.fit(feat).transform(feat))
    ]

    # persisted and reloaded, the 2-stage model scores identically
    path = str(tmp_path / "fused")
    PipelineModel(stages=[pre, lr_model]).write().overwrite().save(path)
    again = rows(PipelineModel.load(path).transform(df))
    assert [(r["prediction"], r["p"]) for r in got] == [(r["prediction"], r["p"]) for r in again]
    ref_feat.unpersist()
    feat.unpersist()


@pytest.fixture(scope="module")
def lr_model(loan_df):
    from pyspark.ml.classification import LogisticRegression

    clf = LogisticRegression(maxIter=10, labelCol="label", featuresCol="features")
    return build_pipeline(clf).fit(loan_df)


def test_double_sql_keeps_non_finite_values(spark):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions.vectors import (
        array_lit,
    )

    vals = spark.range(1).select(array_lit([1.5, math.nan, math.inf, -math.inf]).alias("a")).first()["a"]
    assert vals[0] == 1.5 and math.isnan(vals[1])  # NaN stays NaN, not null
    assert vals[2:] == [math.inf, -math.inf]


_REQUEST = {
    "Gender": "Male", "Married": "Yes", "Dependents": "0", "Education": "Graduate",
    "Self_Employed": "No", "ApplicantIncome": 5849.0, "CoapplicantIncome": 0.0,
    "LoanAmount": 128.0, "Loan_Amount_Term": 360.0, "Credit_History": 1.0,
    "Property_Area": "Urban",
}


@pytest.fixture(scope="module")
def rf_model(loan_df):
    from pyspark.ml.classification import RandomForestClassifier

    clf = RandomForestClassifier(numTrees=5, maxDepth=3, seed=7, labelCol="label",
                                 featuresCol="features")
    return build_pipeline(clf).fit(loan_df)


def test_score_single_row_is_job_free_and_matches_batch(spark, loan_df, lr_model, rf_model,
                                                        tmp_path):
    from itertools import combinations

    from pyspark.ml import PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import vector_to_array

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.scoring import _statement
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.schemas import (
        LOAN_NUMERIC_COLS,
    )

    # reloaded and scored once, then given a new threshold: the statement
    # kept on the model must follow it
    lr_model.write().overwrite().save(str(tmp_path / "lr"))
    reloaded = PipelineModel.load(str(tmp_path / "lr"))
    score_single_row(spark, reloaded, dict(_REQUEST))
    reloaded.stages[1].setThreshold(0.3)
    no_intercept, multinomial = (build_pipeline(LogisticRegression(
        maxIter=10, labelCol="label", featuresCol="features", **kw)).fit(loan_df)
        for kw in ({"fitIntercept": False}, {"family": "multinomial"}))
    models = {"lr": lr_model, "rf": rf_model, "lr reloaded, threshold 0.3": reloaded,
              "lr without intercept": no_intercept, "lr multinomial": multinomial}

    # +inf and -inf in two inputs whose LR weights share a sign: a NaN margin
    pre, lr = lr_model.stages
    weight = dict(zip(pre.getOrDefault(pre.numericCols), lr.coefficients.toArray()))
    nan_pair = next((a, b) for a, b in combinations(
        ["LoanAmount", "Loan_Amount_Term", "Credit_History"], 2) if weight[a] * weight[b] > 0)

    base = _REQUEST
    rows = [
        base,
        {**base, "Gender": None, "LoanAmount": None, "Credit_History": None},
        {**base, "Dependents": "3+", "Loan_ID": "LP999999"},
        # ints, as the reference app's number_input yields them
        {**base, "ApplicantIncome": 4583, "CoapplicantIncome": 1508, "Credit_History": 0},
        {**base, "Property_Area": "Atlantis"},  # unseen category
        {**base, "Self_Employed": "it's a \\ path\\"},  # quote and backslashes
        {**base, "ApplicantIncome": math.nan},  # NaN is imputed like null
        {k: v for k, v in base.items() if k not in ("Married", "LoanAmount")},  # missing keys
        {**base, "Education": "x'); SELECT 1 --", "Gender": "{", "Married": "}"},  # SQL-shaped
        {**base, "ApplicantIncome": math.inf},
        {**base, "LoanAmount": -math.inf},
        {**base, nan_pair[0]: math.inf, nan_pair[1]: -math.inf},
        {**base, "Credit_History": 0.55},  # between the classes: 0.3 < p_approve < 0.5
    ]
    nan_row = len(rows) - 2

    # the batch reference: the same rows through createDataFrame, shaped
    # as prepare_loan_frame shapes the training frame
    cols = list(base)
    batch = spark.createDataFrame(
        [
            (i, *(float(r[c]) if c in LOAN_NUMERIC_COLS and r.get(c) is not None else r.get(c)
                  for c in cols))
            for i, r in enumerate(rows)
        ],
        schema="i int, " + ", ".join(
            f"{c} double" if c in LOAN_NUMERIC_COLS else f"{c} string" for c in cols
        ),
    ).withColumn("Dependents_num", clean_dependents("Dependents").cast("double")).withColumn(
        "Total_Income", F.col("ApplicantIncome") + F.col("CoapplicantIncome")
    )
    sc = spark.sparkContext
    for name, model in models.items():
        # binomial LR pipelines take the compiled statement, the rest transform
        assert (_statement(model) is None) == (name in ("rf", "lr multinomial")), name
        answers = []
        for i, row in enumerate(rows):
            group = f"test_score_single_row_{i}"
            sc.setJobGroup(group, "score_single_row")
            try:
                answers.append(score_single_row(spark, model, dict(row)))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert sc.statusTracker().getJobIdsForGroup(group) == [], f"{name}: row {i} launched a job"

        expected = (
            model.transform(batch)
            .orderBy("i")
            .select("prediction", vector_to_array("probability")[1].alias("p_approve"))
            .collect()
        )
        assert len(expected) == len(answers)
        for i, (got, want) in enumerate(zip(answers, expected)):
            assert got["prediction"] == int(want["prediction"]), f"{name}: row {i}"
            assert got["p_approve"] == pytest.approx(want["p_approve"], abs=1e-9, nan_ok=True), (
                f"{name}: row {i}")
        if name == "lr":
            assert math.isnan(answers[nan_row]["p_approve"]) and answers[nan_row]["prediction"] == 0
        if name == "lr reloaded, threshold 0.3":
            assert 0.3 < answers[-1]["p_approve"] < 0.5 and answers[-1]["prediction"] == 1


def test_compiled_request_makes_few_py4j_round_trips(spark, lr_model):
    from .conftest import count_py4j_round_trips

    for _ in range(2):  # compiles the statement, warms the session
        score_single_row(spark, lr_model, dict(_REQUEST))
    with count_py4j_round_trips() as trips:
        score_single_row(spark, lr_model, dict(_REQUEST))
    assert trips[0] <= 20, trips[0]


@pytest.mark.slow
def test_train_select_persist_score(spark, loan_df, tmp_path):
    train, test = stratified_split(loan_df, "label", 0.2, seed=42)
    best_name, best_model, results = train_and_select(train, test)
    assert set(results) == {"RandomForestClassifier", "LogisticRegression"}
    # Quality regression band (BASELINE.md "Model quality"): on the
    # signal-bearing fixture (credit-history-dominant labels, exact
    # reference class balance) the r2 measurement was RF acc 0.8607 /
    # F1 0.8513, LR acc 0.8689 / F1 0.8641. Both models must stay well
    # above the 0.687 predict-all-Y majority baseline — a drop to it
    # means the pipeline stopped learning (e.g. features disconnected).
    for name, m in results.items():
        assert m["accuracy"] >= 0.80, f"{name} accuracy {m['accuracy']:.4f} below band"
        assert m["f1"] >= 0.80, f"{name} f1 {m['f1']:.4f} below band"
    assert results[best_name]["accuracy"] <= 0.95, "suspiciously high: label leak?"
    # confusion matrix totals the test split
    cm = confusion_matrix(best_model.transform(test))
    assert sum(r["n"] for r in cm.collect()) == test.count()
    # persistence: the reference MEANT to save the fitted pipeline but
    # pickled a string (LP.ipynb:857-862); we save/load the real model
    path = str(tmp_path / "model")
    best_model.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    loaded = PipelineModel.load(path)
    row = {
        "Gender": "Male", "Married": "Yes", "Dependents": "3+",
        "Education": "Graduate", "Self_Employed": "No",
        # ints on purpose: a UI form (reference app.py number_input)
        # yields Python ints, which score_single_row must coerce —
        # Spark's verifier accepts only float for DoubleType
        "ApplicantIncome": 5849, "CoapplicantIncome": 1508,
        "LoanAmount": 128, "Loan_Amount_Term": 360,
        "Credit_History": 1, "Property_Area": "Urban",
    }
    out = score_single_row(spark, loaded, row)
    assert out["prediction"] in (0, 1)
    assert 0.0 <= out["p_approve"] <= 1.0
    # loaded model reproduces in-memory predictions
    a = best_model.transform(test).select("prediction").collect()
    b = loaded.transform(test).select("prediction").collect()
    assert a == b


@pytest.mark.slow
def test_engineered_features_and_cv(spark, loan_df):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.pipeline import (
        ENGINEERED_NUMERIC,
        add_engineered_features,
        build_cross_validator,
    )

    eng = add_engineered_features(loan_df)
    row = eng.where(
        F.col("LoanAmount").isNotNull() & F.col("Loan_Amount_Term").isNotNull()
    ).first()
    assert row["EMI_proxy"] == pytest.approx(row["LoanAmount"] / row["Loan_Amount_Term"])
    assert row["Log_Total_Income"] == pytest.approx(
        __import__("math").log1p(row["Total_Income"])
    )
    # CV over the full pipeline with the engineered numerics included
    base_numeric = [c for c in
        ["ApplicantIncome", "CoapplicantIncome", "LoanAmount", "Loan_Amount_Term",
         "Credit_History", "Dependents_num", "Total_Income"]] + ENGINEERED_NUMERIC
    from pyspark.ml.classification import LogisticRegression
    clf = LogisticRegression(maxIter=200, labelCol="label", featuresCol="features")
    cv = build_cross_validator(clf, n_folds=3)
    # swap the default preprocessor for one that includes engineered cols
    cv.setEstimator(build_pipeline(clf, numeric_cols=base_numeric))
    model = cv.fit(eng)
    assert len(model.avgMetrics) == 4  # 2x2 grid
    assert all(0.0 <= m <= 1.0 for m in model.avgMetrics)


def test_cli_scorer_arg_validation():
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.app import main

    with pytest.raises(SystemExit):  # neither --model nor --train-demo
        main(["--row", "{}"])
    with pytest.raises(SystemExit):  # --row is required
        main(["--train-demo"])


def test_cli_scorer_rejects_bad_json_and_both_modes():
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.app import main

    with pytest.raises(SystemExit):  # invalid JSON caught before Spark boots
        main(["--train-demo", "--row", "{not json"])
    with pytest.raises(SystemExit):  # --model and --train-demo are exclusive
        main(["--model", "/x", "--train-demo", "--row", "{}"])
    with pytest.raises(SystemExit):  # row must be an object
        main(["--train-demo", "--row", "[1,2]"])


def test_stratified_split_disjoint_under_repartition(loan_df):
    # membership must be a pure function of (row content, seed): a
    # different partition layout plus independent recomputation of the
    # two lazy frames must never send a row to both splits or to neither
    # (loan frame has 0 duplicate rows, so full-row keys are unique)
    df = loan_df.repartition(13)
    tr, te = stratified_split(df, "label", test_size=0.2, seed=42)
    key = F.md5(
        F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in df.columns]
        )
    )
    tr_keys = {r[0] for r in tr.select(key).collect()}
    te_keys = {r[0] for r in te.select(key).collect()}
    all_keys = {r[0] for r in df.select(key).collect()}
    assert tr_keys.isdisjoint(te_keys)
    assert tr_keys | te_keys == all_keys
    # and the same rows are chosen when the input layout differs
    tr_base, _ = stratified_split(loan_df, "label", test_size=0.2, seed=42)
    assert {r[0] for r in tr_base.select(key).collect()} == tr_keys


@pytest.mark.slow
def test_ranking_metrics_auc(spark, loan_df):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.evaluate import (
        ranking_metrics,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.pipeline import (
        train_and_select,
    )

    train, test = stratified_split(loan_df, "label", 0.2, seed=42)
    _, best_model, _ = train_and_select(train, test)
    m = ranking_metrics(best_model.transform(test))
    # signal-bearing fixture: both areas must beat a random ranker by a
    # wide margin (measured r2: roc_auc 0.9254, pr_auc 0.9607)
    assert m["roc_auc"] >= 0.80
    assert m["pr_auc"] >= 0.85
    assert m["roc_auc"] <= 1.0 and m["pr_auc"] <= 1.0


def test_feature_importances_named_and_normalized(spark, loan_df):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.evaluate import (
        feature_importances,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.pipeline import (
        build_pipeline,
        candidate_models,
    )

    model = build_pipeline(candidate_models()["RandomForestClassifier"]).fit(loan_df)
    scored = model.transform(loan_df)
    pairs = feature_importances(model, scored)
    names = [n for n, _ in pairs]
    assert len(pairs) >= 10  # numerics + one-hot slots
    assert abs(sum(v for _, v in pairs) - 1.0) < 1e-6
    assert all(v >= 0 for _, v in pairs)
    # the fixture's labels are credit-history-dominant by construction:
    # the one-hot/numeric slot for Credit_History must rank top-3
    top3 = " ".join(names[:3])
    assert "Credit_History" in top3, pairs[:5]
    # every name is a real column or a one-hot slot of one
    assert all(n and not n.startswith("f") or "_" in n for n in names)


@pytest.mark.slow
def test_ml_loan_train_eval_seed_pinned(spark):
    """VERDICT r2 #2: the driver's ml_loan_train_eval row is rows-only
    (MLlib training isn't SQL-expressible), so pin it here instead: the
    seed-pinned confusion-matrix cells must be bit-identical across two
    independent end-to-end runs (fixture gen -> split -> fit -> score),
    and the accuracy they encode must sit in the BASELINE.md band."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.pipelines import (
        ml_loan_train_eval,
    )

    runs = [
        sorted(
            ml_loan_train_eval(spark, "/root/testdata/sf0.001").collect(),
            key=lambda r: (r["label"], r["prediction"]),
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1], f"non-deterministic confusion cells: {runs}"
    cells = {(r["label"], r["prediction"]): r["n"] for r in runs[0]}
    total = sum(cells.values())
    correct = cells.get((0, 0), 0) + cells.get((1, 1), 0)
    acc = correct / total
    assert 0.80 <= acc <= 0.95, f"accuracy {acc:.4f} outside BASELINE band, cells={cells}"
