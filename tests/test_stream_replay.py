"""The micro-batch replay operator (streaming/replay.py): the
``_SUCCESS``-gated idempotent write, batch order and empty-batch skip,
per-batch events and job descriptions, and the two re-split twins."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.streaming.replay import replay, write_once

SF = "/root/testdata/sf0.01"


def _events(err, kind):
    return [
        json.loads(line)
        for line in err.splitlines()
        if line.startswith(f'{{"event": "{kind}"')
    ]


def test_write_once_repairs_half_written_and_skips_completed(spark, tmp_path):
    df = spark.range(5)
    dest = str(tmp_path / "partials" / "batch_id=0")
    # a crashed write: directory and a garbage part file, no _SUCCESS
    os.makedirs(dest)
    with open(os.path.join(dest, "part-orphan.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    write_once(df, dest)
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert not os.path.exists(os.path.join(dest, "part-orphan.parquet"))
    assert sorted(r.id for r in spark.read.parquet(dest).collect()) == list(range(5))
    # a completed write is skipped
    mtime = os.path.getmtime(os.path.join(dest, "_SUCCESS"))
    write_once(spark.range(7), dest)
    assert os.path.getmtime(os.path.join(dest, "_SUCCESS")) == mtime
    assert spark.read.parquet(dest).count() == 5


def test_replay_orders_batches_skips_empty_and_names_jobs(spark, tmp_path, capsys):
    base = str(tmp_path / "replay_probe")
    source = spark.range(10).withColumn("k", F.col("id") % 10)
    preds = [F.col("k") < 4, F.col("k") > 100, F.col("k") >= 4]
    seen = []

    def apply(batch_df, batch_id):
        sc = batch_df.sparkSession.sparkContext
        desc = sc.getLocalProperty("spark.job.description")
        seen.append((batch_id, sorted(r.id for r in batch_df.collect()), desc))

    capsys.readouterr()
    replay(source, preds, apply, base)
    assert [(b, ids) for b, ids, _ in seen] == [
        (0, [0, 1, 2, 3]),
        (2, [4, 5, 6, 7, 8, 9]),
    ]
    for b, _, desc in seen:
        assert desc.startswith("replay_probe\n") and desc.endswith(f"batch = {b}")
    err = capsys.readouterr().err
    batches = _events(err, "stream_batch")
    assert [(e["query"], e["batch_id"], e["rows"]) for e in batches] == [
        ("replay_probe", 0, 4),
        ("replay_probe", 1, 0),
        ("replay_probe", 2, 6),
    ]
    (run,) = _events(err, "stream")
    assert run["query"] == "replay_probe" and run["batches"] == 3
    assert run["stage_s"] > 0 and run["run_s"] > 0


@pytest.mark.parametrize(
    "name",
    [
        "stream_checksum_maintenance",
        "stream_kmv_maintenance",
        "stream_scd2_dimension",
    ],
)
def test_resplit_twins_stream_three_nonempty_batches(spark, capsys, name):
    from ecom_churn_lakehouse_spark.registry import queries

    capsys.readouterr()
    queries()[name](spark, SF)
    batches = _events(capsys.readouterr().err, "stream_batch")
    assert len(batches) == 3 and all(b["rows"] > 0 for b in batches), batches
