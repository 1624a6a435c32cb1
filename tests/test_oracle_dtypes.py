"""Permanent guard for the oracle representation-gap class.

Rounds 4 and 5 each lost exactly one driver row not to a wrong plan
but to a local-comparator-vs-driver-hasher representation gap (r4: a
ROUND half-case; r5: DuckDB widening ``COUNT(*) - SUM(...) OVER`` to
HUGEINT, which pandas materializes as float64 so the driver hashed
``6.0`` against Spark's long ``6``). This test LIMIT-0s every oracle
in the registry and fails if any output column's DuckDB type lacks an
exact Spark twin — no Spark session required, so it runs in <10 s and
catches the class at authoring time, not at judge time.
"""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def test_every_oracle_output_column_is_spark_representable():
    import __spark_entry__ as entrymod
    from tools.check_oracle import dtype_audit

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    hits = dtype_audit(con, entrymod.oracle_sql())
    assert not hits, "driver-hash-risky oracle output types:\n" + "\n".join(hits)


def test_dtype_audit_flags_hugeint():
    from tools.check_oracle import dtype_audit

    con = duckdb.connect()
    hits = dtype_audit(
        con,
        {"probe": "SELECT SUM(x) OVER () AS s FROM (SELECT 1::BIGINT AS x)"},
    )
    assert hits and "HUGEINT" in hits[0]


def test_dtype_audit_flags_decimal_output():
    # DuckDB materializes ANY DECIMAL output as pandas float64 while
    # Spark yields object Decimal - a guaranteed driver-hash gap, so
    # DECIMAL may appear in intermediates but never in a final SELECT.
    from tools.check_oracle import dtype_audit

    con = duckdb.connect()
    hits = dtype_audit(
        con, {"probe": "SELECT CAST(1 AS DECIMAL(38,0)) AS d"}
    )
    assert hits and "DECIMAL" in hits[0]
