"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given sf_dir and
compares against ``oracle_sql()`` via DuckDB: row count, name-sorted
column set, and an order-insensitive value comparison (exact on
non-floats, tiny-epsilon on floats so we catch real mismatches while
tolerating last-bit formatting noise — the real driver hashes, so we
aim for bit-level agreement and report max float deltas).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(np.asarray(v).tolist()) if isinstance(v, (list, np.ndarray)) else v
            )
    sort_cols = [c for c in df.columns if df[c].map(lambda v: isinstance(v, (list, np.ndarray, dict))).sum() == 0]
    df = df.sort_values(by=sort_cols, kind="mergesort", na_position="last").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) != pd.api.types.is_float_dtype(dv):
            # The driver hashes representations: float64 6.0 vs int64 6
            # fails even when numerically equal (rounds 4+5 red rows).
            problems.append(
                f"col {c}: pandas dtype family mismatch spark={sv.dtype} "
                f"duck={dv.dtype}  ** driver hash risk even if values equal **"
            )
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            a = sv.astype(float).to_numpy()
            b = dv.astype(float).to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            diff = np.abs(a - b)
            diff[both_nan] = 0.0
            if np.isnan(diff).any() or (diff > 0).any():
                mx = np.nanmax(diff)
                n_exact = int((diff == 0).sum())
                problems.append(
                    f"col {c}: max |delta|={mx:.3e}, exact={n_exact}/{len(a)}"
                    + ("  ** NOT bit-identical — driver hash may fail **" if mx > 0 else "")
                )
        else:
            neq = ~(sv.eq(dv) | (sv.isna() & dv.isna()))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())}/{len(sv)} values differ, e.g. row {i}: "
                    f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}"
                )
            else:
                # Decimal equality is numeric (Decimal('6.0') == Decimal('6'))
                # but the driver hashes representations, where scale shows.
                import decimal

                is_dec = sv.map(lambda v: isinstance(v, decimal.Decimal))
                if is_dec.any():
                    sstr = sv[is_dec].map(str)
                    dstr = dv[is_dec].map(
                        lambda v: str(v) if isinstance(v, decimal.Decimal) else repr(v)
                    )
                    sneq = sstr.ne(dstr)
                    if sneq.any():
                        i = int(sneq.idxmax())
                        problems.append(
                            f"col {c}: decimal scale/representation differs, e.g. "
                            f"spark={sstr.loc[i]!r} duck={dstr.loc[i]!r}"
                            "  ** driver hash risk — align decimal scales **"
                        )
    return problems


def schema_family_problems(spark_fields, duck_cols_types) -> list[str]:
    """Static Spark-output-schema vs DuckDB-LIMIT-0 cross-check: flag
    type-FAMILY mismatches (int vs float vs decimal) and decimal SCALE
    mismatches — both hash-diverge at the driver even when the local
    numeric comparison is equal (the rounds-4/5 red-row class)."""
    duck = dict(duck_cols_types)
    problems = []
    for f in spark_fields:
        st = f.dataType.simpleString()
        dt = duck.get(f.name)
        if dt is None:
            continue
        s_dec, d_dec = st.startswith("decimal"), dt.startswith("DECIMAL")
        s_f, d_f = st in ("double", "float"), dt in ("DOUBLE", "FLOAT")
        s_i = st in ("bigint", "int", "smallint", "tinyint")
        d_i = dt in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT")
        if s_dec != d_dec or s_f != d_f or (s_i != d_i and not (s_dec or d_dec or s_f or d_f)):
            problems.append(
                f"col {f.name}: output type family mismatch spark={st} duck={dt}"
                "  ** driver hash risk **"
            )
        elif s_dec and d_dec:
            s_scale = st.rsplit(",", 1)[1].rstrip(")")
            d_scale = dt.rsplit(",", 1)[1].rstrip(")")
            if s_scale != d_scale:
                problems.append(
                    f"col {f.name}: decimal scale mismatch spark={st} duck={dt}"
                    "  ** driver hash risk **"
                )
    return problems


# Oracle output dtypes with an exact Spark/pandas twin: anything else
# (HUGEINT from integer SUM widening, unsigned ints, ...) materializes
# in pandas as float64/object and the driver hashes e.g. 6.0 vs Spark's
# long 6 — the representation-gap class that produced the only red row
# in rounds 4 AND 5. DECIMAL is NOT allowed as an OUTPUT type: DuckDB's
# pandas conversion turns every DECIMAL into float64 while Spark yields
# object Decimal — guaranteed driver-hash divergence. Keep DECIMAL for
# intermediates and surface exact wide integers as BIGINT (when they
# fit) or VARCHAR (when they don't).
_ALLOWED_DUCK_TYPES = {
    "BOOLEAN",
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "FLOAT",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",
    "TIMESTAMP WITH TIME ZONE",
}


def _duck_type_ok(t: str) -> bool:
    t = t.strip()
    while t.endswith("[]"):  # LIST of allowed is allowed
        t = t[:-2].strip()
    return t in _ALLOWED_DUCK_TYPES


def dtype_audit(con, oracles: dict[str, str], only: set[str] | None = None) -> list[str]:
    """LIMIT-0 every oracle and flag output columns whose DuckDB type
    has no exact Spark twin (HUGEINT, unsigned, ...). Returns problem
    strings; empty means the registry is driver-hash-representable."""
    hits: list[str] = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        try:
            rel = con.sql(f"SELECT * FROM ({sql}) __dta LIMIT 0")
            cols_types = list(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as exc:  # noqa: BLE001 - report, don't crash the sweep
            hits.append(f"{name}: dtype probe raised: {exc}")
            continue
        for col, typ in cols_types:
            if not _duck_type_ok(typ):
                hits.append(
                    f"{name}.{col}: DuckDB type {typ} has no exact Spark twin "
                    "(driver hash risk — cast it in the oracle's final SELECT)"
                )
    return hits


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    args = sys.argv[2:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_oracle.py [sf_dir] [--json OUT] [query ...]")
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    only = set(args)

    import __spark_entry__ as entrymod
    from ecom_churn_lakehouse_spark.session import get_spark

    spark = get_spark("oracle-check")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    results: dict[str, dict] = {}

    # Representation-gap gate: every oracle's output schema must be
    # exactly Spark-expressible BEFORE any value comparison runs.
    dtype_hits = dtype_audit(con, oracles, only or None)
    for hit in dtype_hits:
        print(f"FAIL  dtype-audit: {hit}")
    failures += len(dtype_hits)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # Per-engine timing split (VERDICT r9 directive #2): `secs` is
        # the total wall time (back-compat), `spark_secs` covers plan
        # build + execution + toPandas on the Spark side, `oracle_secs`
        # covers the DuckDB parse + execute + df() — so a FULLCHECK
        # timing regression can be attributed to the engine that moved
        # (e.g. tcloseness_audit: 14.3 s total was ~13.5 s DuckDB).
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception:
            print(f"FAIL  {name}: spark side raised\n{traceback.format_exc()}")
            failures += 1
            results[name] = {
                "status": "FAIL",
                "err": "spark side raised",
                "secs": round(time.time() - t0, 2),
                "spark_secs": round(time.time() - t0, 2),
                "oracle_secs": 0.0,
            }
            continue
        spark_secs = round(time.time() - t0, 2)
        if name not in oracles:
            print(f"ok?   {name}: no oracle (rows-only) rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
            results[name] = {
                "status": "rows_only",
                "spark_rows": len(spark_pdf),
                "secs": round(time.time() - t0, 2),
                "spark_secs": spark_secs,
                "oracle_secs": 0.0,
            }
            continue
        t1 = time.time()
        try:
            rel = con.sql(oracles[name])
            duck_types = list(zip(rel.columns, [str(t) for t in rel.types]))
            duck_pdf = rel.df()
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised\n{traceback.format_exc()}")
            failures += 1
            results[name] = {
                "status": "FAIL",
                "err": "oracle SQL raised",
                "secs": round(time.time() - t0, 2),
                "spark_secs": spark_secs,
                "oracle_secs": round(time.time() - t1, 2),
            }
            continue
        oracle_secs = round(time.time() - t1, 2)
        problems = schema_family_problems(sdf.schema.fields, duck_types)
        problems += compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(
                f"FAIL  {name} rows={len(spark_pdf)} "
                f"[{time.time()-t0:.1f}s spark={spark_secs} duck={oracle_secs}]"
            )
            for p in problems:
                print(f"      {p}")
            results[name] = {
                "status": "FAIL",
                "spark_rows": len(spark_pdf),
                "oracle_rows": len(duck_pdf),
                "problems": problems,
                "secs": round(time.time() - t0, 2),
                "spark_secs": spark_secs,
                "oracle_secs": oracle_secs,
            }
        else:
            print(
                f"OK    {name} rows={len(spark_pdf)} "
                f"[{time.time()-t0:.1f}s spark={spark_secs} duck={oracle_secs}]"
            )
            results[name] = {
                "status": "OK",
                "spark_rows": len(spark_pdf),
                "oracle_rows": len(duck_pdf),
                "secs": round(time.time() - t0, 2),
                "spark_secs": spark_secs,
                "oracle_secs": oracle_secs,
            }
    print(f"\n{failures} failures")
    by_spark = sorted(
        (
            (n, r)
            for n, r in results.items()
            if r.get("spark_secs") is not None
        ),
        key=lambda kv: -kv[1]["spark_secs"],
    )[:10]
    if len(results) > 10:
        print("slowest spark-side entries:")
        for n, r in by_spark:
            print(
                f"  {n:42s} spark={r['spark_secs']:7.2f}s "
                f"oracle={r.get('oracle_secs', 0.0):7.2f}s"
            )
    if json_out:
        import json

        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_ok": sum(1 for r in results.values() if r["status"] == "OK"),
            "n_rows_only": sum(
                1 for r in results.values() if r["status"] == "rows_only"
            ),
            "n_fail": failures,
            "dtype_audit_hits": dtype_hits,
            "results": results,
        }
        with open(json_out, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
