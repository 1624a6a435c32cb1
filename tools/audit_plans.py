"""Physical-plan audit over the query registry.

For every registered query, prints the plan-shape facts that matter at
100 TB — scan count, pushed filters, join strategies, exchanges,
whole-stage codegen — and flags smells:

- CartesianProduct (non-broadcast cross product)
- scans with empty PushedFilters where the query filters that table
- row-at-a-time Python (BatchEvalPython) in the plan

Usage: python tools/audit_plans.py [sf_dir] [query ...]
       python tools/audit_plans.py --dump <tag> <suffix> <sf_dir> <query> [query ...]

``--dump`` writes each named query's ``formatted`` plan at ``sf_dir``
to ``plans/<tag>/<query>_<suffix>.txt`` instead. These committed plan
files back every plan-shape claim in OPTIMIZATION_r12.md (before/after
Exchange counts, join strategies, PushedFilters, Python-eval nodes;
``plans/r12`` was dumped at sf0.1).
"""

from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def unpartitioned_windows(plan: str) -> int:
    """Count Window operators with NO partition spec (single-partition
    sort). In formatted explain a Window node's Arguments line carries
    three top-level bracket groups when partitioned
    (``[exprs], [partition], [order]``) and only two when global.
    Entries whose plans contain one MUST declare ``bounded_frame`` in
    the registry (VERDICT r7 directive #3)."""
    n = 0
    for seg in plan.split("\n\n"):
        head = seg.split("\n", 1)[0]
        if not re.search(r"\(\d+\) Window(GroupLimit)?$", head.strip()):
            continue
        if "WindowGroupLimit" in head:
            continue  # group-limit nodes carry the parent Window's spec
        m = re.search(r"^Arguments: (.*)$", seg, re.M)
        if not m:
            continue
        groups: list[str] = []
        depth = 0
        buf: list[str] = []
        for ch in m.group(1):
            if ch == "[":
                if depth == 0:
                    buf = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            if depth >= 1:
                buf.append(ch)
        # shapes: [exprs],[part],[order] = partitioned+ordered;
        # [exprs],[part-cols] = partitioned, no order;
        # [exprs],[order ASC/DESC] = GLOBAL ordered;
        # [exprs] = OVER () global unordered.
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(
            r" (ASC|DESC)( NULLS (FIRST|LAST))?", groups[1]
        ):
            continue  # partitioned, unordered
        n += 1
    return n


def audit(plan: str) -> dict:
    return {
        "scans": plan.count("Scan parquet"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "exchanges": plan.count("+- Exchange"),
        "codegen": "codegen id" in plan,  # Spark 4 formatted-mode marker
        "python": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython"),
        "expand": plan.count("Expand"),
        "window_limit": plan.count("WindowGroupLimit"),
        "global_windows": unpartitioned_windows(plan),
    }


def formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def dump(spark, qs, tag: str, suffix: str, sf_dir: str, names: list[str]) -> int:
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = formatted(spark, qs[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


def main() -> int:
    dumping = sys.argv[1:2] == ["--dump"]
    if dumping and (len(sys.argv) < 6 or not os.path.isdir(sys.argv[4])):
        raise SystemExit(__doc__)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from ecom_churn_lakehouse_spark import registry
    from ecom_churn_lakehouse_spark.session import get_spark

    spark = get_spark("plan-audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    if dumping:
        tag, suffix, sf_dir, *names = sys.argv[2:]
        return dump(spark, registry.queries(), tag, suffix, sf_dir, names)

    entries = registry._REGISTRY
    smells = 0
    print(f"{'query':32} scans pushed bhj smj bnlj cart exch wsc py gw")
    for name, fn in registry.queries().items():
        if only and name not in only:
            continue
        if name == "stream_tumbling_daily":
            continue  # streaming: plan forms at runtime
        try:
            plan = formatted(spark, fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name:32} ERROR {e}")
            smells += 1
            continue
        a = audit(plan)
        flags = []
        if a["cartesian"]:
            flags.append("CARTESIAN")
        if a["python"]:
            flags.append("PYTHON-IN-PLAN")
        declared = entries[name].bounded_frame if name in entries else None
        if a["global_windows"] and not declared:
            flags.append("UNDECLARED-GLOBAL-WINDOW")
        if declared and not a["global_windows"]:
            flags.append("STALE-BOUNDED-FRAME-DECL")
        # NOTE: 'wsc' column is informational only — AQE-wrapped plans
        # (anything with an exchange) only materialize WholeStageCodegen
        # nodes at runtime, so its absence pre-execution is not a smell.
        smells += bool(flags)
        print(
            f"{name:32} {a['scans']//2:5} {a['pushed']//2:6} {a['bhj']//2:3} "
            f"{a['smj']//2:3} {a['bnlj']//2:4} {a['cartesian']//2:4} "
            f"{a['exchanges']:4} {'y' if a['codegen'] else 'N':3} "
            f"{a['python']//2:2} {a['global_windows']:2} {' '.join(flags)}"
        )
    print(f"\n{smells} queries with smells")
    return 1 if smells else 0


if __name__ == "__main__":
    raise SystemExit(main())
