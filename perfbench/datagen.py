"""Seeded input generators for the benchmark.

Everything the engine reads in a run is made here from the run's seed:
the loan star tables (NDJSON, plus a change batch), the applicant rows a
serving client sends, and the TPC-H-ish star + event + corpus tables the
query mixes scan. Generation is NumPy/pandas only (no Spark), so it never
lands in a Spark job count, and the same seed always gives byte-identical
files.

Shapes follow the engine's declared schemas
(``sources.schemas.TABLE_SCHEMAS`` / ``LOAN_SCHEMAS``) and the domains of
the reference loan data (Dependents "3+", nullable categoricals, a
Y/N label with a credit-history-driven signal).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# loan star schema
# ---------------------------------------------------------------------------

_LOAN_CATS = {
    "Gender": (["Male", "Female"], [0.78, 0.22]),
    "Married": (["Yes", "No"], [0.65, 0.35]),
    "Dependents": (["0", "1", "2", "3+"], [0.57, 0.17, 0.17, 0.09]),
    "Education": (["Graduate", "Not Graduate"], [0.78, 0.22]),
    "Self_Employed": (["No", "Yes"], [0.86, 0.14]),
    "Property_Area": (["Urban", "Semiurban", "Rural"], [0.33, 0.38, 0.29]),
}
# null shares of the reference data (FIXTURES.md §A, counts / 614)
_LOAN_NULLS = {
    "Gender": 0.021, "Married": 0.005, "Dependents": 0.024, "Self_Employed": 0.052,
    "LoanAmount": 0.036, "Loan_Amount_Term": 0.023, "Credit_History": 0.081,
}
# categories a trained model has never seen; the serving path must encode
# them as the all-zeros one-hot slot instead of failing
_UNSEEN = {"Gender": "Other", "Education": "Postgraduate", "Property_Area": "Downtown"}

LOAN_TABLE_COLS = {
    "applicant_info": ["Loan_ID", "Gender", "Married", "Dependents", "Education", "Self_Employed"],
    "financial_info": ["Loan_ID", "ApplicantIncome", "CoapplicantIncome", "LoanAmount",
                       "Loan_Amount_Term", "Credit_History"],
    "loan_info": ["Loan_ID", "Property_Area", "Loan_Status"],
}


def _loan_frame(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    n = len(ids)
    df = pd.DataFrame({"Loan_ID": [f"LP{i:07d}" for i in ids]})
    for col, (values, p) in _LOAN_CATS.items():
        df[col] = rng.choice(values, size=n, p=p).astype(object)
    df["ApplicantIncome"] = rng.integers(150, 20000, n).astype(float)
    df["CoapplicantIncome"] = np.where(rng.random(n) < 0.4, 0.0, rng.integers(0, 10000, n).astype(float))
    df["LoanAmount"] = rng.integers(9, 700, n).astype(float)
    df["Loan_Amount_Term"] = rng.choice([360.0, 180.0, 120.0, 300.0, 480.0, 84.0], size=n,
                                        p=[0.8, 0.06, 0.04, 0.04, 0.04, 0.02])
    df["Credit_History"] = np.where(rng.random(n) < 0.84, 1.0, 0.0)
    for col, share in _LOAN_NULLS.items():
        mask = rng.random(n) < share
        df[col] = df[col].astype(object).where(~mask, None)
    # learnable label: credit history dominates, income/loan ratio and area help
    ch = pd.to_numeric(df["Credit_History"]).fillna(0.5).to_numpy()
    la = pd.to_numeric(df["LoanAmount"]).fillna(350.0).to_numpy()
    income = df["ApplicantIncome"].to_numpy(float) + df["CoapplicantIncome"].to_numpy(float)
    area = df["Property_Area"].map({"Urban": 0.15, "Semiurban": 0.3, "Rural": 0.0}).to_numpy(float)
    score = 3.0 * ch + 0.6 * np.log1p(income / (la + 1.0)) + area + rng.normal(0.0, 0.8, n)
    df["Loan_Status"] = np.where(score > np.quantile(score, 0.3127), "Y", "N")
    return df


def _write_ndjson(df: pd.DataFrame, path: str) -> None:
    # pandas writes None/NaN as JSON null, the reference's NaN -> NULL scrub
    with open(path, "w") as f:
        f.write(df.to_json(orient="records", lines=True))


def write_loan_batch_inputs(seed: int, n_rows: int, change_share: float, out_dir: str) -> dict:
    """NDJSON for the three loan tables (``initial/<table>.json``) and a
    change batch (``change/<table>.json``) touching ``change_share`` of
    the keys: four fifths existing keys with new values, one fifth new keys.

    Returns the expected post-upsert facts the benchmark checks:
    final row count and the change-batch rows that must win."""
    rng = np.random.default_rng([seed, 1])
    base = _loan_frame(rng, np.arange(n_rows))
    n_change = max(1, int(n_rows * change_share))
    n_new = max(1, n_change // 5)
    changed_ids = np.sort(rng.choice(n_rows, size=n_change - n_new, replace=False))
    change = _loan_frame(rng, np.concatenate([changed_ids, np.arange(n_rows, n_rows + n_new)]))
    for part, df in (("initial", base), ("change", change)):
        os.makedirs(os.path.join(out_dir, part), exist_ok=True)
        for table, cols in LOAN_TABLE_COLS.items():
            _write_ndjson(df[cols], os.path.join(out_dir, part, f"{table}.json"))
    winners = change[["Loan_ID", "ApplicantIncome", "Loan_Status"]]
    return {"final_rows": n_rows + n_new, "n_change": n_change, "winners": winners}


def serve_requests(seed: int, n: int) -> list[dict]:
    """Applicant rows shaped like the reference app's form dict: nulls,
    "3+" dependents, int-typed numbers, and about one row in ten with a
    category the model never saw."""
    rng = np.random.default_rng([seed, 2])
    df = _loan_frame(rng, np.arange(n)).drop(columns=["Loan_ID", "Loan_Status"])
    rows = []
    for rec in df.to_dict("records"):
        rec = {k: (None if isinstance(v, float) and np.isnan(v) else v) for k, v in rec.items()}
        if rng.random() < 0.1:
            col = rng.choice(sorted(_UNSEEN))
            rec[col] = _UNSEEN[col]
        if rec["ApplicantIncome"] is not None and rng.random() < 0.5:
            rec["ApplicantIncome"] = int(rec["ApplicantIncome"])  # the form's number_input
        rows.append(rec)
    return rows


# ---------------------------------------------------------------------------
# TPC-H-ish star, events and corpus tables (sf0.1 sizes by default)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "small", "cold", "red", "green", "tiny"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
          "order part query row scan slow small sort spark stream table the value vector window").split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
CORPUS_TABLES = ["documents", "embeddings"]


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + seconds.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_star_tables(seed: int, out_dir: str, sf: float = 0.1) -> None:
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS, s)}),
           out_dir, "region")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}), out_dir, "nation")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
    }), out_dir, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64),
    }), out_dir, "supplier")
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(_PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2), f64),
    }), out_dir, "part")
    span = 6 * 365 * 86400 + 212 * 86400  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, span // 86400, n_ord) * 86400 * 10**6),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s),
    }), out_dir, "orders")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, span // 86400 + 95, n_line) * 86400 * 10**6),
    }), out_dir, "lineitem")
    # whole milliseconds: the as-of query rounds microsecond gaps to 3
    # decimals, and Spark and DuckDB round an exact half differently
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**3, n_ev)) * 1000
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": pa.array(rng.choice(_EVENTS, n_ev), s),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    }), out_dir, "events")


def write_corpus_tables(seed: int, out_dir: str, sf: float = 0.1) -> None:
    """documents (with exact and one-token-appended near duplicates) and
    unit-norm 64-d embeddings."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lens]
    order = rng.permutation(n_doc)
    n_near, n_exact = n_doc // 20, max(1, n_doc // 600)
    near, exact = order[:n_near], order[n_near:n_near + n_exact]
    sources = order[n_near + n_exact:]
    for i in near:
        texts[i] = texts[rng.choice(sources)] + " dup"
    for i in exact:
        texts[i] = texts[rng.choice(sources)]
    ids = np.arange(n_doc)
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS[0], n_doc, p=_LANGS[1]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out_dir, "documents")
    x = rng.normal(size=(n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), out_dir, "embeddings")
