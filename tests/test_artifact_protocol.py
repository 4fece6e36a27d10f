"""The one artifact protocol in plans/artifacts.py (`_artifact`,
`_stat`), driven with a cheap two-table fake built from spark.range:
build-once-then-serve, the crash discipline (tables stage, one
manifest publish), stat-driven rebuilds, and off mode."""

from __future__ import annotations

import json
import os

import pytest


def _fake(spark, root_dir, calls):
    """(root, builds, stats) of a two-table artifact; ``calls`` counts
    every root/build/stat invocation."""

    def root():
        calls["root"] = calls.get("root", 0) + 1
        return str(root_dir)

    def build_a(t):
        calls["a"] = calls.get("a", 0) + 1
        return spark.range(5)

    def build_b(t):
        calls["b"] = calls.get("b", 0) + 1
        return t["a"].selectExpr("id * 2 AS id2")

    def n_b(t):
        calls["n_b"] = calls.get("n_b", 0) + 1
        return t["b"].count()

    return root, {"a": build_a, "b": build_b}, {"n_b": n_b}


def _rows(tables):
    return (
        sorted(r.id for r in tables["a"].collect()),
        sorted(r.id2 for r in tables["b"].collect()),
    )


WANT = ([0, 1, 2, 3, 4], [0, 2, 4, 6, 8])


@pytest.fixture
def A(monkeypatch):
    from commercial_rfp_data_pipeline_spark.plans import artifacts

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    return artifacts


def test_builds_once_then_serves(spark, tmp_path, A):
    calls = {}
    decl = _fake(spark, tmp_path / "art", calls)
    tables, m = A._artifact(spark, *decl)
    assert _rows(tables) == WANT
    assert m == {"tables": ["a", "b"], "n_b": 5}
    assert (calls["a"], calls["b"], calls["n_b"]) == (1, 1, 1)
    mpath = tmp_path / "art" / "MANIFEST.json"
    assert json.loads(mpath.read_text()) == m
    mt0 = os.path.getmtime(mpath)

    served, m2 = A._artifact(spark, *decl)
    assert _rows(served) == WANT
    assert list(served) == ["a", "b"]
    assert m2 == m
    assert (calls["a"], calls["b"], calls["n_b"]) == (1, 1, 1)
    assert os.path.getmtime(mpath) == mt0


def test_crash_before_publish_leaves_no_manifest(spark, tmp_path, A):
    calls = {}
    root, builds, stats = _fake(spark, tmp_path / "art", calls)

    def boom(t):
        raise RuntimeError("crash while building b")

    with pytest.raises(RuntimeError):
        A._artifact(spark, root, {"a": builds["a"], "b": boom}, stats)
    # table a was staged, but nothing is published
    assert (tmp_path / "art" / "a").exists()
    assert not (tmp_path / "art" / "MANIFEST.json").exists()

    tables, m = A._artifact(spark, root, builds, stats)
    assert _rows(tables) == WANT
    assert m["tables"] == ["a", "b"]
    assert calls["a"] == 2  # the retry rebuilt the staged table too
    served, _ = A._artifact(spark, root, builds, stats)
    assert _rows(served) == WANT


def test_manifest_missing_a_stat_rebuilds(spark, tmp_path, A):
    calls = {}
    decl = _fake(spark, tmp_path / "art", calls)
    A._artifact(spark, *decl)
    mpath = tmp_path / "art" / "MANIFEST.json"
    # a manifest written before the literal was declared
    mpath.write_text(json.dumps({"tables": ["a", "b"]}))

    assert A._stat(spark, "n_b", *decl) == 5
    assert (calls["a"], calls["b"], calls["n_b"]) == (2, 2, 2)
    assert json.loads(mpath.read_text())["n_b"] == 5


def test_off_mode_calls_no_root_and_writes_nothing(
    spark, tmp_path, A, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    calls = {}
    decl = _fake(spark, tmp_path / "art", calls)
    tables, m = A._artifact(spark, *decl)
    assert m is None
    assert _rows(tables) == WANT
    assert A._stat(spark, "n_b", *decl) == 5
    assert "root" not in calls
    assert not (tmp_path / "art").exists()


def test_stat_on_hit_reads_manifest_only(spark, tmp_path, A, monkeypatch):
    calls = {}
    decl = _fake(spark, tmp_path / "art", calls)
    A._artifact(spark, *decl)

    def no_read(*a, **k):
        raise AssertionError("a stat hit must not read a table")

    monkeypatch.setattr(A, "read_parquet", no_read)
    before = dict(calls)
    assert A._stat(spark, "n_b", *decl) == 5
    assert {k: v for k, v in calls.items() if k != "root"} == {
        k: v for k, v in before.items() if k != "root"
    }
