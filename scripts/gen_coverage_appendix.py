"""Regenerate COVERAGE.md's auto-generated query-registry appendix
(everything after the '## Appendix' heading) from the live registry."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES  # noqa: E402

COVERAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")

MARK = "## Appendix: full query registry"
HEADER = MARK + """ (auto-generated — rerun scripts/gen_coverage_appendix.py after registry changes)

Tier `driver` = in `__spark_entry__.queries()`, verified per-round by the
harness (oracle hash-compare, or rows-only where marked). Tier `local` =
oracle-parity-checked by `tests/test_oracle_parity.py` on every run
(`bounded` = no hash oracle, error-bound-asserted against the exact
DuckDB twin in the same gate).

| Query | Tier | Check | Description |
|---|---|---|---|
"""

# single source of truth: the parity gate's own bounded-check list —
# a hand-maintained copy here would let the appendix misreport a
# query's verification status when the gate gains a bounded check
from tests.test_oracle_parity import BOUND_CHECKED_QUERIES  # noqa: E402

BOUNDED = set(BOUND_CHECKED_QUERIES)


def render() -> str:
    """The appendix, from its heading to the end of COVERAGE.md."""
    rows = []
    for name, spec in QUERIES.items():
        check = "oracle" if spec.oracle is not None else (
            "bounded" if name in BOUNDED else "rows-only"
        )
        desc = re.sub(r"\s+", " ", spec.description).strip()
        if len(desc) > 140:
            desc = desc[:137] + "..."
        rows.append(f"| `{name}` | {spec.tier} | {check} | {desc} |")
    return HEADER + "\n".join(rows) + "\n"


def main() -> None:
    with open(COVERAGE) as f:
        doc = f.read()
    head, _, _ = doc.partition(MARK)
    with open(COVERAGE, "w") as f:
        f.write(head + render())
    print(f"wrote {len(QUERIES)} registry rows")


if __name__ == "__main__":
    main()
