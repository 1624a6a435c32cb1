"""Vector math over ``array<float|double>`` embedding columns.

One spelling: ``dot``, ``norm``, ``cosine`` and ``sq_dist`` each parse
one SQL expression over column NAMES that folds a statically known
width ``dim`` as a flat tree — seeded with 0.0, left-associative in
element order, one ``CAST … AS DOUBLE`` per element. That is the fold
order of ``aggregate(zip_with(a, b, …), 0.0, …)``, so results are
bit-reproducible across partitionings and bit-equal to the DuckDB
oracle's list functions; unlike the lambda spelling, which Spark
interprets per row, the flat tree compiles in whole-stage codegen.

Width guard: each primitive raises ``VECTOR_WIDTH_MISMATCH`` when
either array's size is not ``dim`` (a wider vector would otherwise be
silently truncated); a NULL vector yields NULL. The guard multiplies
the fold from outside — ``CASE … THEN raise_error … ELSE 1.0 END *
(fold)``, bit-exact — rather than wrapping it in a conditional
branch, which subexpression elimination does not enter: the element
casts shared by a cosine's three dots would be computed again. It is
the left operand, so it runs even when the fold is NULL, and elements
are read with ``try_element_at`` so a shorter vector reaches the guard
instead of an index error.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["EMBED_DIM", "to_double_array", "dot", "norm", "cosine", "sq_dist", "width_guard"]

#: Width of the ``embeddings`` fixture vectors.
EMBED_DIM = 64


def to_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _fold(a: str, b: str, dim: int, sq_diff: bool = False) -> str:
    """SQL text of the flat fold: Σ x·y, or Σ (x−y)² with ``sq_diff``."""

    def term(i: int) -> str:
        x = f"CAST(try_element_at({a}, {i}) AS DOUBLE)"
        y = f"CAST(try_element_at({b}, {i}) AS DOUBLE)"
        return f"({x} - {y}) * ({x} - {y})" if sq_diff else f"{x} * {y}"

    terms = " + ".join(term(i) for i in range(1, dim + 1))
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def _guard(dim: int, *vecs: str) -> str:
    """SQL text of the width guard over the named vectors: 1.0, or
    ``raise_error`` when one has not ``dim`` elements."""
    names = list(dict.fromkeys(vecs))
    bad = " OR ".join(f"array_size({v}) <> {dim}" for v in names)
    msg = f"VECTOR_WIDTH_MISMATCH: {', '.join(names)} must have {dim} elements"
    return f"CASE WHEN {bad} THEN raise_error('{msg}') ELSE 1.0D END"


def _guarded(body: str, dim: int, *vecs: str) -> Column:
    """``body`` times the width guard over the named vectors."""
    return F.expr(f"{_guard(dim, *vecs)} * {body}")


# Each primitive is cached: ONE py4j round trip (a single F.expr parse)
# per distinct call per process, reused by every later query build —
# the Column-ops construction of one 64-wide cosine measured 1.7 s of
# py4j round trips (~600 calls) per build. Columns are immutable
# unresolved expressions, so sharing one across plans is safe (the
# same contract as a module-level F.col constant).


@functools.lru_cache(maxsize=128)
def dot(a: str, b: str, dim: int = EMBED_DIM) -> Column:
    return _guarded(_fold(a, b, dim), dim, a, b)


@functools.lru_cache(maxsize=128)
def norm(v: str, dim: int = EMBED_DIM) -> Column:
    return _guarded(f"sqrt({_fold(v, v, dim)})", dim, v)


@functools.lru_cache(maxsize=128)
def cosine(a: str, b: str, dim: int = EMBED_DIM) -> Column:
    return _guarded(
        f"({_fold(a, b, dim)} / "
        f"(sqrt({_fold(a, a, dim)}) * sqrt({_fold(b, b, dim)})))",
        dim,
        a,
        b,
    )


@functools.lru_cache(maxsize=128)
def sq_dist(a: str, b: str, dim: int = EMBED_DIM) -> Column:
    return _guarded(_fold(a, b, dim, sq_diff=True), dim, a, b)


@functools.lru_cache(maxsize=128)
def width_guard(a: str, b: str, dim: int = EMBED_DIM) -> Column:
    """The primitives' width guard alone, for a fold they cannot spell
    (one whose element offset is a column): multiply the fold by it,
    from the left, reading elements with ``try_element_at``."""
    return F.expr(_guard(dim, a, b))
