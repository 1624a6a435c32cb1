"""Source guard for the one micro-batch replay path (no Spark session).

Every stream in the package starts in ``streaming/`` (the
``run_available_now`` site and the sources it reads), and no replay
skip tests whether a ``batch_id=`` directory merely exists: the one
idempotence rule is ``write_once``'s ``_SUCCESS`` gate."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ecom_churn_lakehouse_spark"

#: Call spellings, not bare words: registry ``doc=`` strings mention
#: foreachBatch and maxFilesPerTrigger in prose.
STREAM_CALLS = (
    ".writeStream",
    ".awaitTermination(",
    ".foreachBatch(",
    'option("maxFilesPerTrigger"',
)


def _sources():
    return sorted(PKG.rglob("*.py"))


def test_streams_start_only_in_streaming_package():
    bad = [
        f"{path.relative_to(PKG)}:{n}: {spelling}"
        for path in _sources()
        if path.parent.name != "streaming"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for spelling in STREAM_CALLS
        if spelling in line
    ]
    assert not bad, bad


def _batch_path_exists_calls(tree):
    """Lines of ``os.path.exists(x)`` calls whose argument spells a
    ``batch_id=`` path, directly or through a name the module binds to
    one anywhere."""
    nodes = list(ast.walk(tree))
    tainted = {
        t.id
        for n in nodes
        if isinstance(n, ast.Assign) and "batch_id=" in ast.unparse(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    return sorted(
        n.lineno
        for n in nodes
        if isinstance(n, ast.Call)
        and ast.unparse(n.func) == "os.path.exists"
        and any(
            "batch_id=" in ast.unparse(a)
            or any(isinstance(x, ast.Name) and x.id in tainted for x in ast.walk(a))
            for a in n.args
        )
    )


def test_no_replay_skip_tests_bare_batch_directory_existence():
    bad = []
    for path in _sources():
        for line in _batch_path_exists_calls(ast.parse(path.read_text())):
            bad.append(f"{path.relative_to(PKG)}:{line}")
    assert not bad, bad


def test_guard_catches_the_old_spellings():
    old = (
        "def _apply(batch_df, batch_id):\n"
        "    dest = f'{base}/partials/batch_id={batch_id}'\n"
        "    if not os.path.exists(dest):\n"
        "        pass\n"
        "    if os.path.exists(os.path.join(f'{base}/x/batch_id={batch_id}', 'ok')):\n"
        "        pass\n"
        "    if os.path.exists(f'{base}/codes'):\n"
        "        pass\n"
    )
    assert _batch_path_exists_calls(ast.parse(old)) == [3, 5]
