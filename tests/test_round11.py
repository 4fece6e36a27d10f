"""Round-11: the cold-path artifact contract (VERDICT r10 #1) —
SPARK_GRAFT_ARTIFACTS=off|cold|warm honored by every ensure_*, with
off == warm equality, off never touching the warehouse, and cold
building into a throwaway dir."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table


def test_artifacts_mode_validation(monkeypatch):
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    monkeypatch.delenv("SPARK_GRAFT_ARTIFACTS", raising=False)
    assert A.artifacts_mode() == "warm"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "OFF")
    assert A.artifacts_mode() == "off"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "hot")
    with pytest.raises(ValueError):
        A.artifacts_mode()


def test_default_warehouse_root_probed_once(monkeypatch):
    """Without SPARK_GRAFT_WAREHOUSE, every artifact access asks for the
    root; the write probe runs on the first ask only."""
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    monkeypatch.delenv("SPARK_GRAFT_WAREHOUSE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    A._writable_or_tmp.cache_clear()
    removed = []
    real_remove = os.remove
    monkeypatch.setattr(
        os, "remove", lambda p: (removed.append(p), real_remove(p))
    )
    roots = {A.warehouse_root() for _ in range(3)}
    assert len(roots) == 1
    assert [os.path.basename(p) for p in removed] == [".write_probe"]


def test_artifacts_off_matches_warm_and_never_writes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """off mode must derive the identical tables inline without
    creating anything under the warehouse root — an append included:
    it returns the merged tables inline, equal to the warm build."""
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    wh = tmp_path / "art"
    # previous snapshot = all but a small whole-order delta
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    base_dir = tmp_path / "base_sf"
    li.filter(F.col("l_orderkey") % 16 != 1).write.parquet(
        str(base_dir / "lineitem.parquet")
    )
    delta = li.filter(F.col("l_orderkey") % 16 == 1)
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(wh))

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    warm_pairs = {
        (r.id_a, r.id_b, r.dist)
        for r in A.ensure_fuzzy_customer_pairs(spark, sf_dir).collect()
    }
    warm_wedges = {
        (r.src, r.dst, r.w, r.w_dist)
        for r in A.ensure_copurchase_graph(spark, sf_dir)[0].collect()
    }
    warm_n_edges = A.copurchase_n_edges(spark, sf_dir)
    warm_clean = {
        r.doc_id for r in A.ensure_clean_pool(spark, sf_dir)[1].collect()
    }
    warm_ndocs = A.token_index_n_docs(spark, sf_dir, k=3)
    warm_degrees = {
        (r.id, r.d)
        for r in A.ensure_copurchase_graph(spark, sf_dir)[1].collect()
    }
    warm_bip_n = A.bipartite_n_edges(spark, sf_dir)

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    import shutil

    shutil.rmtree(wh, ignore_errors=True)  # off must not need it
    off_pairs = {
        (r.id_a, r.id_b, r.dist)
        for r in A.ensure_fuzzy_customer_pairs(spark, sf_dir).collect()
    }
    off_wedges = {
        (r.src, r.dst, r.w, r.w_dist)
        for r in A.ensure_copurchase_graph(spark, sf_dir)[0].collect()
    }
    off_n_edges = A.copurchase_n_edges(spark, sf_dir)
    off_clean = {
        r.doc_id for r in A.ensure_clean_pool(spark, sf_dir)[1].collect()
    }
    off_ndocs = A.token_index_n_docs(spark, sf_dir, k=3)
    off_bip_n = A.bipartite_n_edges(spark, sf_dir)
    app_w, app_d = A.append_to_copurchase_graph(
        spark, str(base_dir), delta, sf_dir
    )
    off_app_wedges = {(r.src, r.dst, r.w, r.w_dist) for r in app_w.collect()}
    off_app_degrees = {(r.id, r.d) for r in app_d.collect()}

    assert off_pairs == warm_pairs
    assert off_wedges == warm_wedges
    assert off_n_edges == warm_n_edges
    assert off_clean == warm_clean
    assert off_ndocs == warm_ndocs
    assert off_bip_n == warm_bip_n > 0
    assert off_app_wedges == warm_wedges
    assert off_app_degrees == warm_degrees
    # no read, no write: the warehouse root was removed before the off
    # pass and must not have been recreated by it
    assert not wh.exists()


def test_dedup_index_off_matches_warm(spark, sf_dir, tmp_path, monkeypatch):
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        dedup_tables,
    )

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    wh = A.dedup_index_for(spark, sf_dir)
    fp_w, cl_w = dedup_tables(spark, wh)
    warm = (
        {(r.doc_id, r.simhash, r.quality_score) for r in fp_w.collect()},
        {(r.doc_id, r.cluster_id) for r in cl_w.collect()},
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    wh_off = A.dedup_index_for(spark, sf_dir)
    assert wh_off.startswith("__off__:")
    fp_o, cl_o = dedup_tables(spark, wh_off)
    off = (
        {(r.doc_id, r.simhash, r.quality_score) for r in fp_o.collect()},
        {(r.doc_id, r.cluster_id) for r in cl_o.collect()},
    )
    assert off == warm


def test_artifacts_cold_builds_into_throwaway(
    spark, sf_dir, tmp_path, monkeypatch
):
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    warm_wh = tmp_path / "art"
    cold_wh = tmp_path / "cold"
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(warm_wh))
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "cold")
    monkeypatch.setenv("SPARK_GRAFT_COLD_DIR", str(cold_wh))

    pairs = A.ensure_fuzzy_customer_pairs(spark, sf_dir)
    assert pairs.count() > 0
    # built under the throwaway root, not the durable warehouse
    assert cold_wh.exists() and any(cold_wh.iterdir())
    assert not warm_wh.exists()
    A.reset_cold_warehouse()
    assert not cold_wh.exists()


def test_query_level_off_matches_warm(spark, sf_dir, tmp_path, monkeypatch):
    """End-to-end: an artifact-served registry query computes identical
    rows in off and warm modes."""
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A  # noqa: F401
    from commercial_rfp_data_pipeline_spark.registry import all_queries

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    q = all_queries()["fuzzy_name_pairs"]
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    warm = {tuple(r) for r in q(spark, sf_dir).collect()}
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    off = {tuple(r) for r in q(spark, sf_dir).collect()}
    assert off == warm
