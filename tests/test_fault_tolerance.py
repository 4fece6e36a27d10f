"""Task-retry determinism — the docstring claim behind every no-rand()
design ("reproducible under speculative retries"), executed for real: a
subprocess Spark session with task retries enabled (master local[N, 2])
runs operators through a stage that FAILS its first attempt of one
partition, and the retried results must equal a clean run bit-for-bit.

Subprocess because retry budget is a SparkContext property (the shared
test session runs local[4] where any task failure is fatal)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

SF_SMOKE = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent(
    """
    import os, sys, tempfile
    sys.path.insert(0, {root!r})
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[4, 2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .appName("retry_probe").getOrCreate())
    from commercial_rfp_data_pipeline_spark.operators.skew import (
        salted_two_phase_agg,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        stratified_sample,
    )

    docs = spark.read.parquet("{sf}/documents.parquet")
    li = spark.read.parquet("{sf}/lineitem.parquet").select(
        "l_returnflag", "l_quantity"
    )
    marker = tempfile.mktemp(prefix="retry_marker_")

    def flaky(batches):
        from pyspark import TaskContext
        tc = TaskContext.get()
        if (tc.partitionId() == 0 and tc.attemptNumber() == 0
                and not os.path.exists(marker)):
            open(marker, "w").write("x")
            raise RuntimeError("injected one-time task failure")
        for b in batches:
            yield b

    noisy_docs = docs.repartition(4).mapInPandas(flaky, schema=docs.schema)
    got = sorted(r.doc_id for r in stratified_sample(
        noisy_docs, ["lang"], 20).select("doc_id").collect())
    clean = sorted(r.doc_id for r in stratified_sample(
        docs.repartition(4), ["lang"], 20).select("doc_id").collect())
    assert os.path.exists(marker), "failure was never injected"
    assert got == clean and len(got) > 0, "stratified sample diverged under retry"

    os.remove(marker)
    noisy_li = li.repartition(4).mapInPandas(flaky, schema=li.schema)
    aggs = {{"total_qty": ("l_quantity", "sum"), "n": ("l_quantity", "count")}}
    g2 = {{(r.l_returnflag, float(r.total_qty), r.n) for r in
          salted_two_phase_agg(noisy_li, ["l_returnflag"], "l_quantity", aggs
          ).collect()}}
    c2 = {{(r.l_returnflag, float(r.total_qty), r.n) for r in
          salted_two_phase_agg(li, ["l_returnflag"], "l_quantity", aggs
          ).collect()}}
    assert os.path.exists(marker), "second failure was never injected"
    assert g2 == c2 and len(g2) > 0, "salted agg diverged under retry"
    print("RETRY_DETERMINISM_OK")
    """
)


def test_operators_deterministic_under_task_retry():
    """Stratified sampling (hash-rank, no rand()) and the salted
    two-phase aggregation (deterministic salt) must produce identical
    results when a task fails once and is retried — the property that
    makes them safe under speculative execution at cluster scale."""
    r = subprocess.run(
        [sys.executable, "-c", _PROBE.format(sf=SF_SMOKE, root=REPO)],
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "RETRY_DETERMINISM_OK" in r.stdout, r.stdout[-2000:]
