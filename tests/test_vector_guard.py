"""Source guard for the one vector-math spelling (no Spark session).

Every embedding dot, norm, cosine and distance goes through the
width-checked flat fold of ``functions/vectors.py``: the interpreted
``zip_with``-then-``aggregate`` fold survives only in
``similarity/ann.py::banded_sign_buckets``, whose plane set is a
runtime array, and no caller passes the embedding width as a literal
(it is ``EMBED_DIM``, the primitives' and ANN operators' default)."""

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ecom_churn_lakehouse_spark"

ALLOWED_FOLDS = {("similarity/ann.py", "banded_sign_buckets")}
VECTOR_CALLS = {
    "dot",
    "norm",
    "cosine",
    "sq_dist",
    "brute_force_topk",
    "neardup_pairs",
    "ivf_assign_cells",
    "bucketed_topk",
}
SQL_FOLD = re.compile(r"aggregate\s*\(\s*zip_with", re.IGNORECASE)


def _name(func) -> str:
    return ast.unparse(func).rsplit(".", 1)[-1]


def _enclosing(nodes, line) -> str:
    defs = [
        n for n in nodes
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.lineno <= line <= n.end_lineno
    ]
    return max(defs, key=lambda n: n.lineno).name if defs else "<module>"


def _hof_folds(tree):
    """(enclosing function, line) of every ``aggregate`` over a
    ``zip_with`` — inline, through a name bound to one, or in SQL text
    (docstrings aside)."""
    nodes = list(ast.walk(tree))
    zipped = {
        t.id
        for n in nodes
        if isinstance(n, ast.Assign)
        and isinstance(n.value, ast.Call)
        and _name(n.value.func) == "zip_with"
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    docstrings = {
        id(n.body[0].value)
        for n in nodes
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
    }
    lines = []
    for n in nodes:
        if isinstance(n, ast.Call) and _name(n.func) == "aggregate" and n.args:
            arr = n.args[0]
            if (isinstance(arr, ast.Call) and _name(arr.func) == "zip_with") or (
                isinstance(arr, ast.Name) and arr.id in zipped
            ):
                lines.append(n.lineno)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docstrings
            and SQL_FOLD.search(n.value)
        ):
            lines.append(n.lineno)
    return sorted((_enclosing(nodes, line), line) for line in lines)


def _literal_widths(tree):
    """Lines of vector-primitive / ANN-operator calls given a literal 64."""
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and _name(n.func) in VECTOR_CALLS
        and any(
            isinstance(a, ast.Constant) and a.value == 64
            for a in [*n.args, *(k.value for k in n.keywords)]
        )
    )


def _sources():
    return sorted(PKG.rglob("*.py"))


def test_hof_vector_fold_only_in_banded_sign_buckets():
    bad = [
        f"{rel}:{line} ({fn})"
        for path in _sources()
        for rel in [path.relative_to(PKG).as_posix()]
        for fn, line in _hof_folds(ast.parse(path.read_text()))
        if (rel, fn) not in ALLOWED_FOLDS
    ]
    assert not bad, bad
    ann = ast.parse((PKG / "similarity" / "ann.py").read_text())
    assert [fn for fn, _ in _hof_folds(ann)] == ["banded_sign_buckets"]


def test_no_literal_embedding_width_outside_vectors():
    bad = [
        f"{path.relative_to(PKG)}:{line}"
        for path in _sources()
        if path != PKG / "functions" / "vectors.py"
        for line in _literal_widths(ast.parse(path.read_text()))
    ]
    assert not bad, bad


def test_guard_catches_the_old_spellings():
    old = (
        "def q(spark):\n"
        "    diff_sq = F.zip_with(v, F.col('c'), lambda a, b: (a - b) * (a - b))\n"
        "    d = F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x)\n"
        "    e = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), f)\n"
        "    s = F.expr('aggregate(zip_with(a, b, (x, y) -> x * y), 0D, f)')\n"
        "    t = brute_force_topk(q, c, k=5, dim=64)\n"
        "    u = cosine('a', 'b', 64)\n"
        "    w = F.aggregate('q', F.lit(0), lambda acc, x: acc + x)\n"
        "    x = cosine('a', 'b', dim=_MATRYOSHKA_DIM)\n"
    )
    tree = ast.parse(old)
    assert _hof_folds(tree) == [("q", 3), ("q", 4), ("q", 5)]
    assert _literal_widths(tree) == [6, 7]
