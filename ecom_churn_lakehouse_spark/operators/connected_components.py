"""Connected components over an edge list — cluster resolution.

Near-dup detection (MinHash/LSH, SimHash, embedding-LSH), entity
resolution and DBSCAN core graphs all emit *pairs*; their callers need
*clusters* ("keep the lowest doc_id of every duplicate group"). That
grouping is connected components on the pair graph, and
:func:`connected_components` is the one operator that computes it: every
node appearing in the edge list is labeled with the minimum node id of
its component (a node whose only edges are self-loops labels itself).

One barrier, then one of two finishes:

1. The edge list is written ONCE to a scratch parquet barrier in the
   canonical orientation ``u >= v``, so the caller's (possibly
   expensive) pair pipeline executes exactly once. The row count is
   observed on that write (``df.observe``), not counted by a second job.
2. **Driver finish.** If ``rows × 16 B`` is at most the session's
   ``spark.sql.autoBroadcastJoinThreshold`` — the rule Spark itself uses
   to ship a relation whole — the barrier is read back with one Arrow
   ``toPandas()``, labeled by union-find on the driver, and returned
   through ``createDataFrame(pandas, schema)`` (Arrow again, no Python
   workers). A threshold ``<= 0`` disables it.
3. **Rounds finish** (edge lists too large for the driver):
   alternating large-star/small-star contraction (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", SoCC'14), one
   parquet barrier per round.

Why star contraction and not label propagation: propagation needs
O(diameter) rounds, and a DBSCAN percolation cluster of k cores has
diameter ~ sqrt(k) (394 mislabeled points at sf0.1 under a 25-round
budget). Pointer jumping does not rescue it on random-id blobs (25
rounds with 1, 3 or 5 jumps alike). Star contraction links only toward
smaller ids, contracts each component toward a star centered at its
minimum, and shrinks the edge set every round: 6 rounds on that graph.
Convergence is exact: equal observed row counts AND an empty
``exceptAll(prev)``. Reaching ``max_iter`` raises instead of returning a
partial labeling.

Why a parquet barrier per round and not ``localCheckpoint``: chained
self-joins of checkpoint-derived frames hit an exponential analyzer
pathology in Spark 4.1 (~2.7x per round from round ~18). A fresh parquet
relation resets the attribute lineage. Fusing two rounds per barrier
measured worse (AQE submits every shuffle stage as its own job, so it
only doubled the plan each barrier re-optimizes).

Each call emits one ``connected_components`` event (edges, finish,
rounds, seconds), and every barrier write runs under a job description
that names it.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ecom_churn_lakehouse_spark.logging_util import log_event
from ecom_churn_lakehouse_spark.scratch import scratch_dir

__all__ = ["connected_components"]

#: Bytes per edge in the small-relation rule: two 8-byte ids.
_EDGE_BYTES = 16


def _barrier(df: DataFrame, path: str, name: str) -> tuple[DataFrame, int]:
    """Write ``df`` to parquet under the job description ``name`` and
    return it read back with the written schema, plus the row count
    observed on the write itself."""
    obs = Observation()
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(path)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    return df.sparkSession.read.schema(df.schema).parquet(path), obs.get["rows"]


def _driver_finish(raw: DataFrame) -> DataFrame:
    """Union-find over the whole (small) edge list on the driver; each
    root is its component's minimum, so ``find`` is the label."""
    pdf = raw.toPandas()
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    out = pd.DataFrame(
        {"node": nodes, "label": [find(x) for x in nodes]}, dtype=pdf["u"].dtype
    )
    id_type = raw.schema["u"].dataType
    return raw.sparkSession.createDataFrame(
        out, StructType([StructField("node", id_type), StructField("label", id_type)])
    )


def _star_round(edges_in: DataFrame) -> DataFrame:
    """One large-star + small-star contraction over canonical
    ``u > v`` edges; returns the contracted canonical edge set."""
    # large-star over the symmetric view: for each u with
    # m = min(N(u) ∪ u), every neighbor v > u re-hangs onto m.
    sym = edges_in.select("u", "v").unionByName(
        edges_in.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    ls = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter("a != b")
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    # small-star on the canonical orientation: u and its not-larger
    # neighbors all re-hang onto m = min of them.
    sm = ls.groupBy("u").agg(F.min("v").alias("m"))
    return (
        ls.join(sm, "u")
        .select(F.col("v").alias("w"), "m")
        .unionByName(sm.select(F.col("u").alias("w"), "m"))
        .filter(F.col("w") != F.col("m"))
        .select(F.greatest("w", "m").alias("u"), F.least("w", "m").alias("v"))
        .distinct()
    )


def _rounds_finish(raw: DataFrame, base: str, max_iter: int) -> tuple[DataFrame, int]:
    """Star contraction to a fixpoint; returns the labels and the number
    of rounds run."""
    cur, n_cur = _barrier(
        raw.filter("u != v").distinct(), f"{base}/e", "connected_components: edges"
    )
    for i in range(max_iter):
        nxt, n_nxt = _barrier(
            _star_round(cur), f"{base}/e{i}", f"connected_components: round {i + 1}"
        )
        done = n_nxt == n_cur and nxt.exceptAll(cur).limit(1).count() == 0
        cur, n_cur = nxt, n_nxt
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds — "
            "raise max_iter (star contraction needs O(log^2 n) rounds "
            "worst-case, ~2 log n in practice)"
        )
    # The fixpoint is a star forest centered at component minima: every
    # non-root keeps exactly one (node, center) edge; roots, and nodes
    # seen only in self-loops, label themselves.
    lab = cur.select(F.col("u").alias("node"), F.col("v").alias("label"))
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    roots = nodes.join(lab, "node", "left_anti").withColumn("label", F.col("node"))
    return lab.unionByName(roots), i + 1


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 60,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` (columns
    ``src``, ``dst``) with the minimum node id of its component.

    Returns ``node``, ``label`` (the ids' common type) for every node
    appearing in ``edges``; singletons that never enter the pair
    relation are their callers' business. ``max_iter`` bounds the
    contraction rounds of the large-graph finish.
    """
    t0 = time.perf_counter()
    spark = edges.sparkSession
    base = scratch_dir(prefix="cc_")
    raw, n = _barrier(
        edges.select(
            F.greatest(src, dst).alias("u"), F.least(src, dst).alias("v")
        ),
        f"{base}/raw",
        "connected_components: edge list",
    )
    # In bytes, as Spark resolves it ("10MB", "64m", "-1", ...).
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    finish = "driver" if 0 < threshold and n * _EDGE_BYTES <= threshold else "rounds"
    rounds = 0 if finish == "driver" else max_iter  # the budget, if the rounds raise
    try:
        if finish == "driver":
            return _driver_finish(raw)
        out, rounds = _rounds_finish(raw, base, max_iter)
        return out
    finally:
        log_event(
            "connected_components",
            edges=n,
            finish=finish,
            rounds=rounds,
            seconds=round(time.perf_counter() - t0, 3),
        )
