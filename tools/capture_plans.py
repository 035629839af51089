"""Capture .explain('formatted') for named registry queries into files.

Usage: python tools/capture_plans.py <outdir> <suffix> q41_... q113_...
Writes <outdir>/<query>_<suffix>.txt for each name (the r12 optimization
round's evidence files: plans/r12/<query>_before.txt / _after.txt).

Lazy queries only — eager/streaming queries execute at build; for those
the staged-plan evidence lives in PLANS.md (tools/plan_report.py).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_marketeye_airflow_spark import queries as registry
from etl_marketeye_airflow_spark.session import get_spark


def formatted_plan(df) -> str:
    """df.explain('formatted') output as a string, via the public API
    (ADVICE r12: PythonSQLUtils.explainString is a private JVM reach
    that breaks across versions and under Spark Connect)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def count_exchanges(plan: str) -> dict[str, int]:
    """Physical exchange nodes by kind.  Formatted explain prints one
    '(n) <Node>' header line per physical node; matching the header
    keeps 'Exchange' from also counting every ReusedExchange (ADVICE
    r12) or BroadcastExchange, which are reported as their own fields."""
    return {
        field: len(re.findall(rf"\(\d+\) {node}\b", plan))
        for field, node in (
            ("exchanges", "Exchange"),
            ("reused", "ReusedExchange"),
            ("broadcast", "BroadcastExchange"),
        )
    }


def main() -> None:
    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    names = sys.argv[3:]
    assert names, "need query names"
    unknown = set(names) - set(registry.QUERIES)
    assert not unknown, f"unknown: {sorted(unknown)}"
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("capture_plans", cpus=8, shuffle_partitions=8)
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        path = outdir / f"{name}_{suffix}.txt"
        path.write_text(plan)
        counts = " ".join(f"{k}={v}" for k, v in count_exchanges(plan).items())
        print(f"{path}  {counts}", flush=True)


if __name__ == "__main__":
    main()
