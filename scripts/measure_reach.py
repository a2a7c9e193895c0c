"""Measure which engine code each registry query reaches.

Runs every registry query's ``fn`` plus ``collect()`` under
``sys.setprofile`` and attributes each reached engine function to the
top-level definition (function or class) that contains it. Prints the
lines reached per tier, the lines only local queries reach, by module,
and the lines reached by exactly one local query.

Only the driver thread is seen: pandas-UDF bodies run in worker
processes. Branches that run only when a persisted index is missing are
not reached when the index is already built.

Usage: python scripts/measure_reach.py <sf_dir>   (e.g. the sf0.01 tables)
"""

from __future__ import annotations

import ast
import os
import sys
import time
from collections import Counter, defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES  # noqa: E402
from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import get_spark  # noqa: E402

PKG = os.path.join(ROOT, "loan_approval_prediction_data_engineering_ml_pipeline_spark")


def top_level_defs() -> dict[str, list[tuple[int, int, str]]]:
    """Per engine file: (first line, last line, name) of each top-level
    function or class, decorators included."""
    defs = {}
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                defs[path] = [
                    (min([n.lineno] + [x.lineno for x in n.decorator_list]), n.end_lineno, n.name)
                    for n in tree.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                ]
    return defs


def reach(fn) -> set[tuple[str, int]]:
    """(file, first line) of every engine code object called while fn runs."""
    seen = set()

    def hook(frame, event, arg):
        if event == "call":
            code = frame.f_code
            if code.co_filename.startswith(PKG):
                seen.add((code.co_filename, code.co_firstlineno))

    sys.setprofile(hook)
    try:
        fn()
    finally:
        sys.setprofile(None)
    return seen


def main(sf_dir: str) -> None:
    defs = top_level_defs()

    def owner(path: str, line: int):
        for lo, hi, name in defs.get(path, ()):
            if lo <= line <= hi:
                return (os.path.relpath(path, PKG), name, hi - lo + 1)
        return None

    spark = get_spark(app_name="measure_reach", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    reached: dict[str, set] = {}
    failed = []
    t0 = time.time()
    for name, spec in QUERIES.items():
        try:
            codes = reach(lambda: spec.fn(spark, sf_dir).collect())
        except Exception as e:  # noqa: BLE001 - a failing query is reported, not fatal
            failed.append(f"{name}: {type(e).__name__}")
            continue
        reached[name] = {d for d in (owner(*c) for c in codes) if d}
    spark.stop()

    tiers = {t: [n for n in reached if QUERIES[n].tier == t] for t in ("driver", "local")}
    by_tier = {t: set().union(*(reached[n] for n in names)) for t, names in tiers.items()}
    local_only = by_tier["local"] - by_tier["driver"]
    hits = Counter(d for n in tiers["local"] for d in reached[n] if d in local_only)
    single = {d for d in local_only if hits[d] == 1}

    def lines(ds) -> int:
        return sum(d[2] for d in ds)

    print(f"{len(reached)} of {len(QUERIES)} queries ran in {time.time() - t0:.0f} s at {sf_dir}")
    for f in failed:
        print(f"  failed: {f}")
    print(f"{'':34}{'queries':>8}{'defs':>7}{'lines':>8}")
    print(f"{'driver tier':34}{len(tiers['driver']):8}{len(by_tier['driver']):7}{lines(by_tier['driver']):8}")
    print(f"{'local tier, not reached by driver':34}{len(tiers['local']):8}{len(local_only):7}{lines(local_only):8}")
    print(f"{'  of which by exactly one query':34}{'':8}{len(single):7}{lines(single):8}")
    print("\nlocal-only lines by module:")
    per_mod = defaultdict(int)
    for d in local_only:
        per_mod[d[0]] += d[2]
    for mod, n in sorted(per_mod.items(), key=lambda kv: -kv[1]):
        print(f"  {mod:40}{n:7}")
    print("\nlines reached by one local query alone, top 15:")
    per_query = Counter()
    for n in tiers["local"]:
        per_query[n] = lines(reached[n] & single)
    for n, k in per_query.most_common(15):
        print(f"  {n:40}{k:7}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
