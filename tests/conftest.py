import json
import sys
import threading
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ecom_churn_lakehouse_spark.session import _DEFAULT_CONF, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.default.parallelism": "4",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def engine_width(spark):
    """Runs the test at the engine's own ``spark.sql.shuffle.partitions``
    (the ``spark`` fixture pins 4, narrower than any fan-out the engine
    shows) and restores the fixture's width afterwards. Yields the
    width."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, _DEFAULT_CONF[key])
    try:
        yield int(_DEFAULT_CONF[key])
    finally:
        spark.conf.set(key, prev)


@pytest.fixture
def jobs(spark):
    """``jobs(fn)`` runs ``fn`` under a fresh Spark job group and
    returns how many jobs it started."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def within():
    """``within(fn, seconds)`` runs ``fn`` in a daemon thread and fails
    the test, instead of hanging the suite, if it has not returned in
    time. Returns ``fn()``'s value and re-raises its exception."""

    def run(fn, seconds=120):
        out = {}

        def target():
            try:
                out["value"] = fn()
            except Exception as exc:  # re-raised in the test thread
                out["error"] = exc

        t = threading.Thread(target=target, daemon=True)
        t.start()
        t.join(seconds)
        assert not t.is_alive(), f"blocked for more than {seconds} s"
        if "error" in out:
            raise out["error"]
        return out["value"]

    return run


@pytest.fixture
def cc_finish(spark, capsys):
    """``with cc_finish("driver"|"rounds"):`` runs the block with the
    connected-components operator on one finish: ``driver`` under the
    session's broadcast threshold, ``rounds`` with
    ``spark.sql.autoBroadcastJoinThreshold=-1``; the threshold is
    restored on exit. Asserts every ``connected_components`` event the
    block logged names that finish."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextmanager
    def pin(finish):
        prev = spark.conf.get(key)
        if finish == "rounds":
            spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, prev)
        events = [
            json.loads(line)
            for line in capsys.readouterr().err.splitlines()
            if line.startswith('{"event": "connected_components"')
        ]
        assert events and {e["finish"] for e in events} == {finish}, events

    return pin
