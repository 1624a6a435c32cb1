"""Z-order (Morton) clustering for multi-dimensional data skipping.

The reference's Delta layer gets this from ``OPTIMIZE ... ZORDER BY``.
This module is the engine-native form: a pure-expression Morton code —
every step is a built-in column function (JVM codegen, no UDF) — used
by ``ManagedTable.compact(zorder_by=...)`` to cluster flat parquet.

Why not just sort by (a, b)? Lexicographic sort clusters only the
leading column: every file then spans the FULL range of ``b``, so
min/max file stats prune nothing for ``b``-only predicates. The Morton
code interleaves the bits of rank-scaled columns, so consecutive rows
are close in EVERY dimension and each file's bounding box is small —
parquet row-group stats (or Delta file stats) then skip most files for
point/range predicates on ANY of the z-ordered columns.

Scale posture: the per-column min/max normalization is one tiny
aggregate broadcast to the scan (no shuffle); the z-value itself is
scan-local bit arithmetic; the only shuffle is the final range
partition by z-value — exactly the shuffle a plain global sort would
pay. Linear min/max scaling is skew-sensitive (a heavy hitter
compresses the resolution of its dimension); the production refinement
is quantile-based scaling via approx_percentile cut-points, same
broadcast shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["morton_interleave", "with_zorder_value"]


def morton_interleave(scaled: list[Column], bits: int = 16) -> Column:
    """Interleave ``bits`` low bits of each pre-scaled LONG column into
    a Morton code: bit ``i`` of column ``d`` lands at position
    ``i * n_dims + d``. Pure shiftleft/shiftright/AND/OR expression
    tree — whole-stage-codegen resident.
    """
    n = len(scaled)
    if n == 0:
        raise ValueError("morton_interleave needs at least one column")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, col in enumerate(scaled):
            bit = F.shiftright(col, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + d))
    return z


def with_zorder_value(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out: str = "__zvalue",
) -> DataFrame:
    """Append a Morton z-value column over ``cols`` (numeric, date, or
    timestamp), each linearly min/max-scaled to ``bits`` bits.

    The min/max frame is a single 1-row aggregate cross-joined
    (broadcast) onto the data — no shuffle before the caller's range
    partition. NULLs scale to 0 (cluster together at the origin).
    ``bits * len(cols)`` must fit a signed long (≤ 62).
    """
    if not cols:
        raise ValueError("zorder needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError(
            f"bits*dims = {bits * len(cols)} exceeds a signed long; "
            "lower bits= (resolution beyond ~16 bits/dim buys nothing "
            "once files hold millions of rows)"
        )
    top = (1 << bits) - 1
    nums = {c: F.col(c).cast("double") for c in cols}
    stats = df.agg(
        *[F.min(v).alias(f"__zmin_{c}") for c, v in nums.items()],
        *[F.max(v).alias(f"__zmax_{c}") for c, v in nums.items()],
    )
    scaled = []
    for c, v in nums.items():
        lo = F.col(f"__zmin_{c}")
        hi = F.col(f"__zmax_{c}")
        span = hi - lo
        frac = F.when(span > 0, (v - lo) / span).otherwise(F.lit(0.0))
        scaled.append(
            F.coalesce(
                F.floor(frac * top).cast("long"), F.lit(0).cast("long")
            )
        )
    out_df = df.crossJoin(F.broadcast(stats)).withColumn(
        out, morton_interleave(scaled, bits)
    )
    return out_df.drop(
        *[f"__zmin_{c}" for c in cols], *[f"__zmax_{c}" for c in cols]
    )
