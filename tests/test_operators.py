"""Golden unit tests for the operator layer (asof, sessionize, windows)."""

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import Row

from ecom_churn_lakehouse_spark.operators import (
    asof_join,
    dedup_top1,
    sessionize,
    topk_per_group,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [
            Row(k="u1", lts=_ts("2024-01-01 10:00:00"), lid=1),
            Row(k="u1", lts=_ts("2024-01-01 12:00:00"), lid=2),
            Row(k="u2", lts=_ts("2024-01-01 09:00:00"), lid=3),  # before any right
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="u1", rts=_ts("2024-01-01 10:00:00"), payload="a"),  # equal ts → matches
            Row(k="u1", rts=_ts("2024-01-01 11:30:00"), payload="b"),
            Row(k="u2", rts=_ts("2024-01-01 23:00:00"), payload="c"),
        ]
    )
    out = {
        r["lid"]: r["matched"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            payload={"payload": "matched"},
        ).collect()
    }
    assert out[1] == "a"  # equal timestamp included (backward-INCLUSIVE)
    assert out[2] == "b"  # newest right at or before 12:00
    assert out[3] is None  # no right row before 09:00 → null


def test_asof_join_forward_inclusive_with_tolerance(spark):
    left = spark.createDataFrame(
        [
            Row(k="u1", lts=_ts("2024-01-01 10:00:00"), lid=1),
            Row(k="u1", lts=_ts("2024-01-01 12:00:00"), lid=2),
            Row(k="u1", lts=_ts("2024-01-02 00:00:00"), lid=3),  # next right >2h away
            Row(k="u2", lts=_ts("2024-01-01 09:00:00"), lid=4),  # no right at/after
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="u1", rts=_ts("2024-01-01 10:00:00"), payload="a"),  # equal ts
            Row(k="u1", rts=_ts("2024-01-01 13:30:00"), payload="b"),
            Row(k="u2", rts=_ts("2024-01-01 08:00:00"), payload="c"),  # only BEFORE
        ]
    )
    out = {
        r["lid"]: r["matched"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            payload={"payload": "matched"}, direction="forward",
            tolerance_seconds=2 * 3600,
        ).collect()
    }
    assert out[1] == "a"  # equal timestamp included (forward-INCLUSIVE)
    assert out[2] == "b"  # earliest right at or after 12:00, within 2h
    assert out[3] is None  # nearest forward match exceeds tolerance → nulled
    assert out[4] is None  # no forward match at all


def test_asof_forward_tie_break_is_minimal(spark):
    left = spark.createDataFrame([Row(k="u", lts=_ts("2024-01-01 10:00:00"), lid=1)])
    right = spark.createDataFrame(
        [
            Row(k="u", rts=_ts("2024-01-01 11:00:00"), payload="z", ord=9),
            Row(k="u", rts=_ts("2024-01-01 11:00:00"), payload="m", ord=1),
        ]
    )
    got = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        payload={"payload": "matched"}, right_order=["ord"],
        direction="forward",
    ).collect()[0]["matched"]
    assert got == "m"  # forward keeps the tie-break MIN (arg_min-like)


def test_sessionize_gap_semantics(spark):
    rows = [
        Row(user_id=1, event_id=i, ts=_ts(t))
        for i, t in enumerate(
            [
                "2024-01-01 10:00:00",
                "2024-01-01 10:20:00",  # 20min gap → same session
                "2024-01-01 11:00:00",  # 40min gap → new session
                "2024-01-01 11:30:00",  # exactly 30min → NOT a new session (> gap)
            ]
        )
    ]
    out = sessionize(spark.createDataFrame(rows), gap_minutes=30)
    sessions = [r["session_id"] for r in out.orderBy("ts").collect()]
    assert sessions == [1, 1, 2, 2]


def test_dedup_top1_deterministic_tiebreak(spark):
    rows = [
        Row(k="x", ts=_ts("2024-01-01 10:00:00"), src="a", v=1),
        Row(k="x", ts=_ts("2024-01-01 10:00:00"), src="b", v=2),  # ts tie → src desc wins
        Row(k="x", ts=None, src="z", v=3),  # null ts → loses (desc_nulls_last)
    ]
    out = dedup_top1(
        spark.createDataFrame(rows),
        ["k"],
        [F.col("ts").desc_nulls_last(), F.col("src").desc()],
    ).collect()
    assert len(out) == 1 and out[0]["v"] == 2


def test_topk_per_group(spark):
    rows = [Row(g="a", v=i) for i in range(5)] + [Row(g="b", v=9)]
    out = topk_per_group(
        spark.createDataFrame(rows), ["g"], [F.col("v").desc()], k=2
    ).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["v"])
    assert sorted(by_g["a"], reverse=True) == [4, 3]
    assert by_g["b"] == [9]


# ---------------------------------------------------- connected components
#
# Every test runs the operator on both finishes: ``driver`` (union-find
# over a broadcast-small edge list) and ``rounds`` (star contraction,
# reached by disabling the broadcast threshold).

FINISHES = ("driver", "rounds")


def _labels(df):
    return {r["node"]: r["label"] for r in df.collect()}


def test_connected_components_chain_and_islands(spark, cc_finish):
    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    # chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["src", "dst"],
    )
    for finish in FINISHES:
        with cc_finish(finish):
            out = _labels(connected_components(edges))
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                       10: 10, 11: 10, 12: 10,
                       20: 20, 21: 20}, finish


def test_connected_components_raises_on_budget_not_wrong_labels(spark, cc_finish):
    """Rounds that run out of budget must FAIL LOUDLY, never return a
    silent partial labeling (the round-11 DBSCAN defect shape: 394
    mislabeled points caught only by the oracle). With the default
    budget both finishes label the same path correctly."""
    import pytest

    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src LONG, dst LONG"
    )
    with cc_finish("rounds"):
        with pytest.raises(RuntimeError, match="no fixpoint"):
            connected_components(edges, max_iter=1)
    for finish in FINISHES:
        with cc_finish(finish):
            lab = _labels(connected_components(edges))
        assert lab == {i: 0 for i in range(40)}, finish


def test_connected_components_self_loop_only_nodes(spark, cc_finish):
    """A node appearing ONLY in self-loop edges must still be labeled
    (with itself): the contract is 'every node appearing in edges'."""
    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (7, 7), (2, 2)], "src LONG, dst LONG"
    )
    for finish in FINISHES:
        with cc_finish(finish):
            lab = _labels(connected_components(edges))
        assert lab == {1: 1, 2: 1, 7: 7}, finish


def test_connected_components_empty_edge_list(spark, cc_finish, within):
    """An empty edge list returns an empty labeling on both finishes;
    the row count observed on the empty barrier write must not block."""
    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    edges = spark.createDataFrame([], "src LONG, dst LONG")
    for finish in FINISHES:
        with cc_finish(finish):
            out = within(lambda: connected_components(edges).collect(), 120)
        assert out == [], finish


def test_connected_components_int_ids_same_schema_both_finishes(spark, cc_finish):
    """INT ids stay INT, and both finishes return the same schema and
    rows; the caller's job description is restored."""
    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 9), (40, 41)], "src INT, dst INT"
    )
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        got = {}
        for finish in FINISHES:
            with cc_finish(finish):
                df = connected_components(edges)
                got[finish] = (df.schema, sorted(map(tuple, df.collect())))
            assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert got["driver"] == got["rounds"]
    assert got["driver"][0].simpleString() == "struct<node:int,label:int>"
    assert got["driver"][1] == [(3, 3), (5, 3), (9, 3), (40, 40), (41, 40)]
