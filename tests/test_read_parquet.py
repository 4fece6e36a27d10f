"""io.read_parquet: the package's one batch parquet read, with a
file-keyed schema cache that skips Spark's schema-inference job on a
repeat read of unchanged files."""

from __future__ import annotations

import ast
import itertools
import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from commercial_rfp_data_pipeline_spark import io as graft_io
from commercial_rfp_data_pipeline_spark.io import TABLES, load_table, read_parquet

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "commercial_rfp_data_pipeline_spark",
)
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_GROUPS = itertools.count()


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started), counted per job group
    with the status tracker."""
    sc = spark.sparkContext
    group = f"read_parquet_test_{next(_GROUPS)}"
    marker = group + "_marker"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        # the status store applies job events in order: once a job
        # started after fn shows, every job fn started shows too
        sc.setJobGroup(marker, marker)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never showed"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_every_input_table_cached_equals_inferred(spark, sf_dir):
    """A cold read infers (at least one job); the repeat read is served
    from the cache with no job, and gives the same schema and rows."""
    graft_io._SCHEMAS.clear()
    for name in TABLES:
        cold, n_cold = _jobs_started(spark, lambda: load_table(spark, sf_dir, name))
        warm, n_warm = _jobs_started(spark, lambda: load_table(spark, sf_dir, name))
        assert n_cold >= 1, name
        assert n_warm == 0, name
        assert warm.schema == cold.schema, name
        assert warm.collect() == cold.collect(), name


def test_spark_overwrite_with_new_schema_misses(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(path)
    assert read_parquet(spark, path).columns == ["k", "s"]
    assert read_parquet(spark, path).columns == ["k", "s"]  # cached
    spark.createDataFrame([(2, 0.5)], "k long, d double").write.mode(
        "overwrite"
    ).parquet(path)
    df, n_jobs = _jobs_started(spark, lambda: read_parquet(spark, path))
    assert n_jobs >= 1
    assert df.dtypes == [("k", "bigint"), ("d", "double")]
    assert [tuple(r) for r in df.collect()] == [(2, 0.5)]


def test_pyarrow_rewrite_of_single_file_misses(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["x"]
    assert read_parquet(spark, path).columns == ["x"]  # cached
    pq.write_table(
        pa.table({"x": pa.array([3], pa.int64()), "y": pa.array(["z"])}), path
    )
    df = read_parquet(spark, path)
    assert df.dtypes == [("x", "bigint"), ("y", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, "z")]


def test_file_added_to_directory_misses(spark, tmp_path):
    """With mergeSchema on, the inferred schema is the union over all
    files, so a stale entry would drop the added file's column."""
    path = tmp_path / "d"
    path.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path / "p0.parquet")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert read_parquet(spark, str(path)).columns == ["a"]
        assert read_parquet(spark, str(path)).columns == ["a"]  # cached
        pq.write_table(
            pa.table({"a": pa.array([2], pa.int64()), "b": pa.array(["n"])}),
            path / "p1.parquet",
        )
        df, n_jobs = _jobs_started(spark, lambda: read_parquet(spark, str(path)))
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert n_jobs >= 1
    assert sorted(df.columns) == ["a", "b"]
    assert df.count() == 2


def test_events_ts_follows_nanos_as_long(spark, sf_dir, tmp_path):
    """The inference confs are part of the cache key. ``ts`` stored as
    TIMESTAMP(NANOS) reads as bigint with nanosAsLong on. With it off,
    Spark 4 refuses the type at inference, so the read must raise that
    error instead of serving the cached bigint schema. The shipped
    TIMESTAMP(MICROS) events read as a timestamp either way."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("ns"))
    )
    nanos = str(tmp_path / "events_ns.parquet")
    pq.write_table(t, nanos)
    micros = os.path.join(sf_dir, "events.parquet")
    try:
        spark.conf.set(NANOS, "true")
        assert dict(read_parquet(spark, nanos).dtypes)["ts"] == "bigint"
        assert dict(read_parquet(spark, nanos).dtypes)["ts"] == "bigint"
        assert dict(read_parquet(spark, micros).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, nanos)
        assert dict(read_parquet(spark, micros).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(NANOS, "true")
        assert dict(read_parquet(spark, nanos).dtypes)["ts"] == "bigint"
    finally:
        spark.conf.set(NANOS, "true")


def test_binary_as_string_toggle_misses(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).dtypes == [("b", "string")]
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
    finally:
        spark.conf.unset(key)


def test_missing_path_raises_sparks_error(spark, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "absent"))


def _read_parquet_lines() -> range:
    src = open(os.path.join(PKG, "io.py")).read()
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef) and node.name == "read_parquet":
            return range(node.lineno, node.end_lineno + 1)
    raise AssertionError("io.read_parquet is gone")


def test_no_batch_parquet_read_bypasses_read_parquet():
    """Every batch parquet read in the package goes through
    ``io.read_parquet``; a bare ``<session>.read.parquet(`` brings the
    per-read inference job back. ``readStream`` does not match."""
    pattern = re.compile(r"\bread\.parquet\(")
    allowed = _read_parquet_lines()
    bad = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if pattern.search(line) and not (
                        rel == "io.py" and i in allowed
                    ):
                        bad.append(f"{rel}:{i}: {line.strip()}")
    assert not bad, "use io.read_parquet instead:\n" + "\n".join(bad)
