"""Config-driven data-quality check engine (SURVEY.md §2.11 D1–D8).

Generalizes the reference's ``src/common/dq.py`` (check compiler at
:19-39, runner at :42-92, report/quarantine at :95-119) plus its
hard-coded stage gates (range gate ``customer_features_daily.py:55-62``,
ordering gate ``:64-68``, domain gate ``labels.py:68``) into one
declarative engine: a check spec is a plain dict, compiled to a Column
predicate that selects BAD rows; the runner counts violations per
check in a single job, applies severity gating driver-side, and
optionally quarantines bounded failed-row samples.

Scale design: all checks over one input are evaluated in ONE pass —
a single aggregation of conditional counts — instead of the
reference's one-job-per-check recomputation (SURVEY §3.2 defect).
Failed-row sampling is bounded (``limit``) so quarantine never becomes
a second full scan's worth of output.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "DQGateFailure",
    "compile_check",
    "run_checks",
    "observe_checks",
    "report_from_observation",
    "CheckResult",
    "DQReport",
]


def compile_check(spec: dict[str, Any]) -> Column:
    """Compile a check spec into a predicate selecting VIOLATING rows.

    Supported types (reference mapping in parentheses):
    - ``not_null``: OR-fold isNull over ``columns`` (D1, dq.py:19-28)
    - ``in_set``: NULL or outside ``allowed`` (D3, dq.py:38-39)
    - ``range``: outside [min, max]; NULL fails (D5,
      customer_features_daily.py:55-62)
    - ``ordering``: requires ``less <= greater``; violation when not
      (D6, customer_features_daily.py:64-68)
    - ``domain``: alias of in_set (D7, labels.py:68)
    - ``expr``: arbitrary SQL predicate string selecting bad rows (P8
      generalization)

    ``unique`` (D2) is group-based, handled separately in
    :func:`run_checks`. The frame checks (``row_count``,
    ``single_value``) judge aggregates, not rows: see
    :func:`_check_aggs`.
    """
    t = spec["type"]
    if t == "not_null":
        bad = F.lit(False)
        for c in spec["columns"]:
            bad = bad | F.col(c).isNull()
        return bad
    if t in ("in_set", "domain"):
        c = F.col(spec["column"])
        return c.isNull() | ~c.isin(*spec["allowed"])
    if t == "range":
        c = F.col(spec["column"])
        bad = c.isNull()
        if "min" in spec:
            bad = bad | (c < F.lit(spec["min"]))
        if "max" in spec:
            bad = bad | (c > F.lit(spec["max"]))
        return bad
    if t == "ordering":
        # NULL on either side fails explicitly (consistent with `range`):
        # ~(less <= greater) alone is NULL-for-NULL inputs, which the
        # conditional counter in run_checks would treat as a pass.
        less, greater = F.col(spec["less"]), F.col(spec["greater"])
        return less.isNull() | greater.isNull() | ~(less <= greater)
    if t == "expr":
        return F.expr(spec["predicate"])
    raise ValueError(f"unknown check type {t!r}")


@dataclass
class CheckResult:
    name: str
    check_type: str
    severity: str
    bad_rows: int
    passed: bool
    #: why a frame check failed, in the words of its gate
    detail: str | None = None
    #: ``single_value``: each homogeneous column's value
    values: dict[str, Any] | None = None


@dataclass
class DQReport:
    row_count: int
    results: list[CheckResult] = field(default_factory=list)
    #: CDC tombstones in a ``ManagedTable.merge`` source (not gated).
    rows_deleted: int = 0

    @property
    def blocking_failures(self) -> list[CheckResult]:
        return [r for r in self.results if not r.passed and r.severity == "critical"]

    @property
    def ok(self) -> bool:
        return not self.blocking_failures

    def to_dict(self) -> dict[str, Any]:
        return {
            "row_count": self.row_count,
            "ok": self.ok,
            "rows_deleted": self.rows_deleted,
            # detail/values only where a frame check set them
            "checks": [
                {k: v for k, v in vars(r).items() if v is not None}
                for r in self.results
            ],
        }

    def write_json(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=2, default=str)

    def raise_if_blocked(self) -> None:
        """Raise :class:`DQGateFailure` naming every blocking failure
        (and what a failed frame check found); no-op when ``ok``."""
        failed = self.blocking_failures
        if not failed:
            return
        details = "; ".join(r.detail for r in failed if r.detail)
        raise DQGateFailure(
            f"critical DQ failures: {[r.name for r in failed]}"
            + (f": {details}" if details else ""),
            self,
        )


class DQGateFailure(ValueError):
    """Critical DQ failure: publish blocked (dq.py:87-91 semantics).
    ``report`` is the gated :class:`DQReport` when the failure came
    from one."""

    def __init__(self, message: str, report: DQReport | None = None):
        super().__init__(message)
        self.report = report


#: Frame checks judge aggregates over the whole frame, not rows, so
#: they ride the same single aggregation as the row checks:
#: - ``row_count``: at least ``min`` rows (an eligibility gate, e.g.
#:   labels.py:154-163's non-empty label spine);
#: - ``single_value``: each of ``columns`` holds exactly one value
#:   across a non-empty frame (A8 version homogeneity,
#:   build_training_snapshot.py:32-38), judged from its min, max and
#:   non-null count; NULL counts as a value, so an all-NULL column is
#:   homogeneous and a partly-NULL one is not.
_FRAME_CHECKS = ("row_count", "single_value")


def _check_aggs(row_checks: list[dict[str, Any]]) -> list[Column]:
    """Row count, one conditional violation count per row-predicate
    check and the aggregates of each frame check — the single
    aggregation both :func:`run_checks` and :func:`observe_checks`
    evaluate."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, spec in enumerate(row_checks):
        if spec["type"] == "row_count":
            continue  # answered by __n
        if spec["type"] == "single_value":
            for j, c in enumerate(spec["columns"]):
                aggs += [
                    F.min(c).alias(f"__c{i}_{j}_min"),
                    F.max(c).alias(f"__c{i}_{j}_max"),
                    F.count(c).alias(f"__c{i}_{j}_nn"),
                ]
            continue
        # coalesce: SUM over an empty frame is NULL, not 0
        aggs.append(
            F.coalesce(
                F.sum(F.when(compile_check(spec), 1).otherwise(0)), F.lit(0)
            ).alias(f"__c{i}")
        )
    return aggs


def _row_result(spec: dict[str, Any], i: int, counts) -> tuple[int, str | None, dict | None]:
    """``(bad, detail, values)`` of row or frame check ``i``: the
    violating rows of a row predicate; for ``row_count`` the missing
    rows, for ``single_value`` the columns that are not homogeneous
    (all of them on an empty frame)."""
    if spec["type"] not in _FRAME_CHECKS:
        return int(counts[f"__c{i}"]), None, None
    n = int(counts["__n"])
    if spec["type"] == "row_count":
        short = max(int(spec["min"]) - n, 0)
        return short, f"expected at least {spec['min']} rows, found {n}" if short else None, None
    columns = spec["columns"]
    if not n:
        return len(columns), f"columns {columns} must be homogeneous; found no rows", None
    values, problems = {}, []
    for j, c in enumerate(columns):
        lo, hi, nn = (counts[f"__c{i}_{j}_{k}"] for k in ("min", "max", "nn"))
        if nn == 0 or (nn == n and lo == hi):
            values[c] = lo
        else:
            problems.append(
                f"column {c!r} must be homogeneous; found multiple values "
                f"(e.g. {[lo if nn == n else None, hi]})"
            )
    return len(problems), "; ".join(problems) or None, values


def _report(counts, checks: list[dict[str, Any]], unique_bad=None) -> DQReport:
    """Severity-gated report: row and frame checks first (aggregates
    from :func:`_check_aggs`), then ``unique`` checks with their
    duplicate key-group counts (``unique_bad``; all 0 when omitted)."""
    row_checks = [c for c in checks if c["type"] != "unique"]
    unique_checks = [c for c in checks if c["type"] == "unique"]
    named = [
        (spec, spec.get("name", f"{spec['type']}_{i}"), _row_result(spec, i, counts))
        for i, spec in enumerate(row_checks)
    ] + [
        (spec, spec.get("name", "unique_" + "_".join(spec["keys"])), (int(bad), None, None))
        for spec, bad in zip(unique_checks, unique_bad or [0] * len(unique_checks))
    ]
    return DQReport(
        row_count=int(counts["__n"]),
        results=[
            CheckResult(
                name=name,
                check_type=spec["type"],
                severity=spec.get("severity", "critical"),
                bad_rows=bad,
                passed=bad == 0,
                detail=detail,
                values=values,
            )
            for spec, name, (bad, detail, values) in named
        ],
    )


def observe_checks(df: DataFrame, checks: list[dict[str, Any]]):
    """Attach row-predicate checks as an ``Observation`` — ZERO extra scans.

    :func:`run_checks` costs one dedicated aggregation job per table;
    at 100 TB that is a full extra scan before every publish. This
    variant rides the metrics on whatever action consumes the returned
    DataFrame (``ManagedTable.merge`` rides them on its staged snapshot
    write): Spark's observe API accumulates the conditional counts on
    the executors as rows stream through, for free.

    Returns ``(observed_df, observation)``; feed the observation to
    :func:`report_from_observation` AFTER the action has run. Row and
    frame checks are supported: ``unique`` is group-based, and
    ``merge`` answers it with its key probe, a window count per key
    observed on the same write.
    """
    from pyspark.sql import Observation

    if any(c["type"] == "unique" for c in checks):
        raise ValueError("observe_checks supports row and frame checks only")
    obs = Observation()
    return df.observe(obs, *_check_aggs(checks)), obs


def report_from_observation(obs, checks: list[dict[str, Any]]) -> DQReport:
    """Build a :class:`DQReport` from a completed observation. ``unique``
    checks in ``checks`` are reported as passed: the caller answers them
    separately (``ManagedTable.merge``'s key probe, observed on the same
    write, raises before any report is returned when it fails)."""
    return _report(obs.get, checks)


def run_checks(
    df: DataFrame,
    checks: list[dict[str, Any]],
    quarantine_dir: str | None = None,
    sample_rows: int = 100,
) -> DQReport:
    """Evaluate all checks; return a report with severity gating applied.

    Row-predicate and frame checks are fused into ONE aggregation job
    (conditional sums), unlike the reference's per-check jobs. Unique
    checks each need a groupBy. Quarantine (D8) writes at most
    ``sample_rows`` violating rows per failed row or unique check as
    parquet (a frame check has no violating rows).
    """
    row_checks = [c for c in checks if c["type"] != "unique"]
    unique_checks = [c for c in checks if c["type"] == "unique"]
    counts = df.agg(*_check_aggs(row_checks)).collect()[0]
    dup_groups = [
        df.groupBy(*c["keys"]).count().filter(F.col("count") > 1)
        for c in unique_checks
    ]
    report = _report(counts, checks, [d.count() for d in dup_groups])
    if quarantine_dir:
        # Failed-row extraction: the check predicate, or a semi-join
        # back to the duplicate key set (J5, dq.py:31-35).
        violating = [
            None if c["type"] in _FRAME_CHECKS else df.filter(compile_check(c))
            for c in row_checks
        ] + [
            df.join(d.select(*c["keys"]), on=c["keys"], how="left_semi")
            for c, d in zip(unique_checks, dup_groups)
        ]
        for result, bad in zip(report.results, violating):
            if result.bad_rows and bad is not None:
                bad.limit(sample_rows).write.mode("overwrite").parquet(
                    f"{quarantine_dir}/{result.name}"
                )
    return report
