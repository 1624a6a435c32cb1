"""One micro-batch replay operator for every stream in the package.

Every streaming twin runs through ``run_available_now``, the one place
that starts a stream: a ``foreachBatch`` sink with a checkpoint, run
to completion under ``Trigger.AvailableNow``. It skips empty
micro-batches and names the query after the basename of the
checkpoint's parent directory (each twin's scratch prefix is unique),
so Spark labels every job of batch N -- also those started inside the
Python callback -- with ``"<name>\\nid = …\\nrunId = …\\nbatch = N"``.
After the run it logs one ``stream_batch`` event per micro-batch
(rows, duration, state-store rows and bytes) plus one ``stream``
event. The batch's rows come from the one ``count()`` that also
decides the skip: the progress's ``numInputRows`` adds up every scan
of the batch, so it reads 2x or more once the callback runs its own
actions.

``replay`` is the staged form the twins use: it appends
``source.filter(p).coalesce(1)`` as one parquet file per predicate and
reads them back with ``maxFilesPerTrigger=1``, so predicate i arrives
as micro-batch i. The file source orders files by modification time;
the files of one multi-file write have near-equal mtimes, so each chunk
is staged by its own write job to keep the batch order deterministic.

``write_once`` is the one idempotence rule for a batch's output. A
micro-batch is delivered at least once, so each batch writes to its
own ``batch_id=N`` directory and a redelivered batch must not write it
twice -- the per-batch idempotent write of the Delta Lake ``txn``
action (Delta Lake, VLDB 2020). The skip is gated on the ``_SUCCESS``
marker Spark commits last, not on the directory existing: a write that
crashed halfway leaves the directory without the marker, and skipping
it would silently drop that batch; overwriting repairs it.

``ranges(col, *cuts)`` spells a range split of a column once.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.logging_util import log_event

__all__ = ["ranges", "replay", "run_available_now", "write_once"]

Apply = Callable[[DataFrame, int], None]


def write_once(df: DataFrame, dest: str) -> None:
    """Write ``df`` to ``dest`` unless a completed write (its
    ``_SUCCESS`` marker) is already there; a half-written ``dest`` is
    overwritten."""
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        df.write.mode("overwrite").parquet(dest)


def ranges(col: str, *cuts) -> list[Column]:
    """The ``len(cuts) + 1`` predicates ``col < c1``, ``c1 <= col < c2``,
    …, ``col >= ck`` that split ``col`` at the ascending ``cuts``."""
    c = F.col(col)
    return (
        [c < cuts[0]]
        + [(c >= lo) & (c < hi) for lo, hi in zip(cuts, cuts[1:])]
        + [c >= cuts[-1]]
    )


def run_available_now(
    stream: DataFrame,
    apply: Apply,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Run ``stream`` to completion (``Trigger.AvailableNow``), calling
    ``apply(batch_df, batch_id)`` for every non-empty micro-batch."""
    _run(stream, apply, checkpoint_dir, output_mode, stage_s=0.0)


def replay(
    source: DataFrame, predicates: list[Column], apply: Apply, base: str
) -> None:
    """Stage ``source.filter(p)`` for each predicate, in order, as one
    parquet file under ``base/src``, then replay the files one per
    micro-batch through ``apply`` (checkpoint ``base/ckpt``)."""
    name = os.path.basename(base)
    sc = source.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    t0 = time.perf_counter()
    try:
        for i, p in enumerate(predicates):
            sc.setJobDescription(f"{name}: stage {i}")
            source.filter(p).coalesce(1).write.mode("append").parquet(f"{base}/src")
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    stage_s = time.perf_counter() - t0
    stream = (
        source.sparkSession.readStream.schema(source.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src")
    )
    _run(stream, apply, f"{base}/ckpt", "append", stage_s)


def _run(stream, apply, checkpoint_dir, output_mode, stage_s):
    """``run_available_now``; ``stage_s`` is the staging time ``replay``
    spent before the run, reported in the ``stream`` event."""
    name = os.path.basename(os.path.dirname(os.path.normpath(checkpoint_dir)))
    rows: dict[int, int] = {}

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        rows[batch_id] = batch_df.count()
        if rows[batch_id]:
            apply(batch_df, batch_id)

    t0 = time.perf_counter()
    q = (
        stream.writeStream.queryName(name)
        .outputMode(output_mode)
        .foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    run_s = time.perf_counter() - t0
    progress = q.recentProgress
    for p in progress:
        log_event(
            "stream_batch",
            query=name,
            batch_id=p.batchId,
            rows=rows.get(p.batchId, 0),
            ms=(p.durationMs or {}).get("triggerExecution", 0),
            state_rows=sum(s.numRowsTotal for s in p.stateOperators),
            state_bytes=sum(s.memoryUsedBytes for s in p.stateOperators),
        )
    log_event(
        "stream",
        query=name,
        batches=len(progress),
        stage_s=round(stage_s, 3),
        run_s=round(run_s, 3),
    )
