"""Audit every oracled entry for cross-engine ROUND fragility.

Round 4's driver proved that LOCAL bit-equality does not imply
driver-hash safety: ``churn_hazard_table``'s 3/640 = 0.0046875 rounds
differently depending on whether an engine rounds the double's exact
binary expansion (0.004687499999...) or its shortest decimal repr
("0.0046875" — what Spark's BigDecimal.valueOf/Double.toString path
sees). Both behaviors are conforming; which one a given DuckDB build
exhibits is a version property. This tool finds every fixture value in
every oracle exposed to that class:

1. Strip every ``ROUND(x, d)`` wrapper from the oracle text
   (balanced-paren parse), collecting the digit counts ``d``.
2. Run the stripped query in DuckDB to observe the PRE-round doubles
   that actually occur on the fixture.
3. For each double column and each ``d`` the query uses, flag values
   where rounding the exact binary expansion (HALF_UP) disagrees with
   rounding the shortest repr (HALF_UP), or where the scaled fraction
   sits within 1e-9 of the .5 boundary (a one-ulp cross-engine
   difference in the pre-round value could flip the last digit).

DECIMAL-typed columns are safe by type (decimal rounding is exact and
engine-independent); integer columns are skipped.

Checking pre-round values from ONE engine covers both sides: if the
observed value is far from every half boundary, a last-ulp
perturbation of it (which is the most another conforming engine's
arithmetic can differ by on these plans) cannot cross the boundary.

Usage: python tools/rounding_audit.py [sf_dir] [--md OUT] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from decimal import ROUND_FLOOR, ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

#: |scaled_frac - 0.5| below this flags a value as boundary-adjacent.
BOUNDARY_EPS = Decimal("1e-9")


def _find_rounds(sql: str) -> list[tuple[int, int, str, int]]:
    """All top-scan ROUND(...) spans: (start, end_excl, inner_expr, d)."""
    out = []
    low = sql.lower()
    i = 0
    while True:
        j = low.find("round(", i)
        if j < 0:
            break
        # must be a bare function name, not a suffix of an identifier
        if j > 0 and (low[j - 1].isalnum() or low[j - 1] == "_"):
            i = j + 6
            continue
        depth = 0
        k = j + 5  # index of '('
        end = None
        top_comma = None
        while k < len(sql):
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    end = k
                    break
            elif c == "," and depth == 1:
                top_comma = k
            k += 1
        if end is None:  # unbalanced — bail on this occurrence
            i = j + 6
            continue
        if top_comma is None:
            inner, d = sql[j + 6 : end], 0
        else:
            inner = sql[j + 6 : top_comma]
            try:
                d = int(sql[top_comma + 1 : end].strip())
            except ValueError:
                i = end + 1
                continue
        out.append((j, end + 1, inner, d))
        i = end + 1
    return out


def strip_rounds(sql: str) -> tuple[str, set[int]]:
    """Replace every ROUND(x, d) with (x); returns (sql', {d...})."""
    digits: set[int] = set()
    while True:
        spans = _find_rounds(sql)
        if not spans:
            return sql, digits
        # replace back-to-front so offsets stay valid; nested ROUNDs
        # surface on the next loop iteration
        for start, end, inner, d in reversed(spans):
            digits.add(d)
            sql = sql[:start] + "(" + inner + ")" + sql[end:]


def audit_column(
    values: np.ndarray, d: int
) -> tuple[int, int, Decimal | None]:
    """(n_disagree, n_near, min boundary distance) for doubles at d.

    ``n_disagree``: values where HALF_UP over the exact binary
    expansion and over the shortest repr produce DIFFERENT digits —
    a guaranteed driver-hash break against an engine of the other
    persuasion (the churn_hazard_table 3/640 class). ``n_near``:
    values within BOUNDARY_EPS of the .5 boundary — fragile only if
    the pre-round double itself is not engine-pinned (i.e. the two
    engines could compute pre-round values differing by >= the
    remaining margin).
    """
    q = Decimal(1).scaleb(-d)
    n_disagree = n_near = 0
    min_dist: Decimal | None = None
    for x in values:
        if not np.isfinite(x):
            continue
        xt = Decimal(float(x)).scaleb(d)
        frac = xt - xt.to_integral_value(rounding=ROUND_FLOOR)
        dist = abs(frac - Decimal("0.5"))
        if min_dist is None or dist < min_dist:
            min_dist = dist
        exact = Decimal(float(x)).quantize(q, rounding=ROUND_HALF_UP)
        short = Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)
        if exact != short:
            n_disagree += 1
        elif dist < BOUNDARY_EPS:
            n_near += 1
    return n_disagree, n_near, min_dist


def _multiset(a: np.ndarray) -> np.ndarray:
    a = a[np.isfinite(a)]
    return np.sort(a)


def _round_half_up(values: np.ndarray, d: int) -> np.ndarray:
    q = Decimal(1).scaleb(-d)
    return np.array(
        [
            float(Decimal(float(x)).quantize(q, rounding=ROUND_HALF_UP))
            if np.isfinite(x)
            else x
            for x in values
        ],
        dtype=np.float64,
    )


def producing_digits(
    stripped_vals: np.ndarray, orig_vals: np.ndarray, digits: set[int]
) -> list[int] | None:
    """Which d's ROUND actually produced this column, or None if the
    column is a raw passthrough (identical before/after stripping —
    not a ROUND output, so not in this audit's scope; raw doubles are
    the ordinary bit-equality gate's domain)."""
    s, o = _multiset(stripped_vals), _multiset(orig_vals)
    if len(s) == len(o) and np.array_equal(s, o):
        return None
    out = []
    for d in sorted(digits):
        if len(s) == len(o) and np.array_equal(
            np.sort(_round_half_up(s, d)), o
        ):
            out.append(d)
    # no d reproduces it (e.g. the round feeds later arithmetic or
    # changed row selection) — audit conservatively at every d
    return out or sorted(digits)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    args = sys.argv[2:]
    md_out = None
    if "--md" in args:
        i = args.index("--md")
        md_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    only = set(args)

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    rows: list[dict] = []
    n_flagged_entries = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        stripped, digits = strip_rounds(sql)
        if not digits:
            rows.append({"name": name, "status": "no-round"})
            print(f"none  {name}: no ROUND in oracle")
            continue
        try:
            pdf = con.sql(stripped).df()
            pdf_orig = con.sql(sql).df()
        except Exception as e:
            rows.append(
                {"name": name, "status": "strip-failed", "err": str(e)[:200]}
            )
            print(f"MANUAL {name}: stripped query failed: {str(e)[:120]}")
            continue
        detail = []
        n_disagree = n_near = 0
        for col in pdf.columns:
            s = pdf[col]
            if s.dtype == np.float64 or s.dtype == np.float32:
                raw = s.to_numpy(dtype=np.float64)
                if col in pdf_orig.columns and (
                    pdf_orig[col].dtype == np.float64
                    or pdf_orig[col].dtype == np.float32
                ):
                    ds = producing_digits(
                        raw,
                        pdf_orig[col].to_numpy(dtype=np.float64),
                        digits,
                    )
                else:
                    ds = sorted(digits)
                if ds is None:
                    detail.append(f"{col}: passthrough (not ROUND output)")
                    continue
                vals = np.unique(raw)
                for d in ds:
                    nd, nn, mind = audit_column(vals, d)
                    n_disagree += nd
                    n_near += nn
                    detail.append(
                        f"{col}@d={d}: {nd} disagree, {nn} near, "
                        f"min|frac-0.5|={mind if mind is not None else 'n/a'}"
                        f" over {len(vals)} distinct"
                    )
            elif s.dtype == object and len(s) and isinstance(
                s.dropna().iloc[0] if len(s.dropna()) else None, Decimal
            ):
                detail.append(f"{col}: DECIMAL — safe by type")
        status = (
            "FLAGGED" if n_disagree else ("near" if n_near else "ok")
        )
        if n_disagree or n_near:
            n_flagged_entries += 1
        rows.append(
            {
                "name": name,
                "status": status,
                "digits": sorted(digits),
                "detail": detail,
            }
        )
        print(
            f"{status:8}{name} d={sorted(digits)} [{time.time()-t0:.1f}s]"
        )
        if n_disagree or n_near:
            for line in detail:
                print(f"      {line}")

    print(
        f"\n{n_flagged_entries} flagged/near entries / {len(rows)} audited"
    )

    if md_out:
        with open(md_out, "w") as fh:
            fh.write(
                "# ROUNDING_AUDIT — cross-engine ROUND boundary safety\n\n"
                f"Fixture: `{sf_dir}`. Method: strip every `ROUND(x, d)` "
                "from each oracle, rerun in DuckDB, and check every "
                "pre-round double against (a) exact-binary-expansion vs "
                "shortest-repr HALF_UP disagreement and (b) scaled "
                f"fraction within {BOUNDARY_EPS} of the .5 boundary "
                "(tools/rounding_audit.py; motivated by round 4's "
                "churn_hazard_table 3/640 half-case).\n\n"
                "| entry | status | detail |\n|---|---|---|\n"
            )
            for r in rows:
                det = "; ".join(r.get("detail", [])) or r.get("err", "")
                fh.write(
                    f"| {r['name']} | {r['status']} | {det} |\n"
                )
        print(f"wrote {md_out}")
    return 1 if n_flagged_entries else 0


if __name__ == "__main__":
    sys.exit(main())
