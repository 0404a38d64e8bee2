"""Plan-hygiene audit over every __spark_entry__.queries() entry.

For each query: is Python eval in the plan (allowed ONLY for operators whose
semantics need it), how many shuffles (Exchange), how many WholeStageCodegen
spans, are scans pruned (ReadSchema) — printed as one table, non-zero exit
if a JVM-only operator leaked Python. The per-operator shuffle counts are
the scale review: every Exchange is a full network pass over the data at
100 TB.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from healthcare_data_harmonization_dataflow_spark.plans.checks import (  # noqa: E402
    physical_plan,
)
from healthcare_data_harmonization_dataflow_spark.session import build_session  # noqa: E402

# Operators whose semantics REQUIRE a Python stage (Arrow-batched, never
# per-row): custom decode hooks.
PYTHON_ALLOWED = {"multimodal_features"}

# Hard ceilings on FileScan count for compositions that are REQUIRED to
# reuse a materialized intermediate instead of re-deriving it per branch.
# corpus_curate_v3 checkpoints the gopher survivor ids, so its main plan
# must touch documents exactly twice (rate aggregate + final gate) — a
# third scan means the gate verdict is being recomputed per reference.
MAX_SCANS = {"corpus_curate_v3": 2}


def audit(name: str, plan: str) -> dict:
    return {
        "query": name,
        "python": bool(re.search(r"(Batch|Arrow)EvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
        or len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": len(re.findall(r"FileScan|BatchScan", plan)),
        "pruned_scans": len(re.findall(r"ReadSchema: struct<", plan)),
        "broadcasts": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # AQE off for the audit: codegen spans and exchange structure are then
    # visible in the static physical plan (AQE re-optimizes at runtime but
    # never ADDS Python stages or scans — the hygiene signals are identical)
    spark = build_session(
        app_name="plan-audit",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    rows, violations = [], []
    for name, fn in entrymod.queries().items():
        try:
            plan = physical_plan(fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - audit tool
            violations.append(f"{name}: plan build failed: {exc}")
            continue
        row = audit(name, plan)
        rows.append(row)
        if row["python"] and name not in PYTHON_ALLOWED:
            violations.append(f"{name}: Python eval leaked into a JVM-only path")
        if name in MAX_SCANS and row["scans"] > MAX_SCANS[name]:
            violations.append(
                f"{name}: {row['scans']} scans > ceiling {MAX_SCANS[name]}"
                " (a materialized intermediate is being re-derived)"
            )

    w = max(len(r["query"]) for r in rows)
    print(f"{'query':<{w}}  py  exch  codegen  scans  pruned  bcast")
    for r in rows:
        print(
            f"{r['query']:<{w}}  {'Y' if r['python'] else '-':>2}  {r['exchanges']:>4}"
            f"  {r['codegen_spans']:>7}  {r['scans']:>5}  {r['pruned_scans']:>6}"
            f"  {r['broadcasts']:>5}"
        )
    if violations:
        print("\nVIOLATIONS:")
        for v in violations:
            print(" ", v)
        return 1
    print(f"\n{len(rows)} queries audited, 0 violations")
    return 0


if __name__ == "__main__":
    sys.exit(main())
