"""``scripts/verify_local.py`` stops at a lost JVM instead of failing
every remaining query as a Spark error. No Spark: the queries are fakes."""

from __future__ import annotations

import importlib.util
import os

import pytest
from py4j.protocol import Py4JError, Py4JNetworkError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def verify_local():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "scripts", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Rows:
    columns = ["x"]

    def collect(self):
        return [(1,), (2,)]


class _DeadSpark:
    @property
    def sparkContext(self):
        raise Py4JNetworkError("Answer from Java side is empty")


class _LiveSpark:
    class sparkContext:
        class _jvm:
            class java:
                class lang:
                    class System:
                        @staticmethod
                        def currentTimeMillis():
                            return 0


def _ok(spark, sf):
    return _Rows()


def _run(verify_local, spark, failing):
    def fails(spark, sf):
        raise failing

    queries = {"a": _ok, "b": fails, "c": _ok, "d": _ok}
    return verify_local.run_queries(spark, None, queries, {}, list(queries), "sf")


def test_network_error_stops_the_run(verify_local, capsys):
    report = _run(verify_local, _LiveSpark(), Py4JNetworkError("connection lost"))
    assert report["a"]["status"] == "rows_only"
    assert report["b"] == {"status": "fail", "err": "jvm lost"}
    assert report["c"] == report["d"] == {"status": "not_run"}
    out = capsys.readouterr().out
    assert "STOP b:" in out and "2 queries not run" in out


def test_py4j_error_with_a_dead_gateway_stops_the_run(verify_local):
    report = _run(verify_local, _DeadSpark(), Py4JError("o123.collectToPython"))
    assert report["b"]["err"] == "jvm lost"
    assert report["d"] == {"status": "not_run"}


def test_py4j_error_with_a_live_gateway_fails_one_query(verify_local):
    report = _run(verify_local, _LiveSpark(), Py4JError("analysis error"))
    assert report["b"] == {"status": "fail", "err": "spark error"}
    assert report["c"]["status"] == report["d"]["status"] == "rows_only"
