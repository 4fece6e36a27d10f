"""Round-9 additions: the durable co-purchase graph artifact
(plans/artifacts.py — VERDICT r8 next-round #1) and its consumers.

The graph family's oracle SQL still derives the edge list from
lineitem inline, so every driver correctness row ALSO proves the
artifact equals the inline derivation; these tests pin the artifact's
own contract (content equivalence, reuse-without-rebuild, structural
invalidation on a changed corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table


def _inline_wedges(spark, sf_dir):
    """The pre-round-9 inline derivation, restated: raw-pair
    multiplicity w and distinct-shared-order count w_dist."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    raw = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") != F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"),
        F.col("b.l_partkey").alias("dst"),
        F.col("a.l_orderkey").alias("ok"),
    )
    return raw.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("w"),
        F.countDistinct("ok").alias("w_dist"),
    )


def test_copurchase_artifact_matches_inline(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    wedges, degrees = A.ensure_copurchase_graph(spark, sf_dir)
    got = {(r.src, r.dst): (r.w, r.w_dist) for r in wedges.collect()}
    want = {
        (r.src, r.dst): (r.w, r.w_dist)
        for r in _inline_wedges(spark, sf_dir).collect()
    }
    assert got == want
    # symmetric: every (a, b) has its (b, a) twin with identical weights
    for (s, d), wv in got.items():
        assert got[(d, s)] == wv
    # degrees = distinct-neighbor count over the symmetric edge list
    wantdeg = {}
    for s, _ in got:
        wantdeg[s] = wantdeg.get(s, 0) + 1
    assert {(r.id): r.d for r in degrees.collect()} == wantdeg


def test_copurchase_artifact_reuse_and_invalidation(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    wh1 = A.graph_warehouse(spark, sf_dir)
    A.ensure_copurchase_graph(spark, sf_dir)
    mpath = os.path.join(wh1, "copurchase", "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    # second ensure serves the committed tables — no rebuild
    A.ensure_copurchase_graph(spark, sf_dir)
    assert os.path.getmtime(mpath) == mt0

    # a CHANGED lineitem table (subset under a new dir) re-keys the
    # graph warehouse: stale edges are structurally unreachable
    alt = str(tmp_path / "altsf")
    os.makedirs(alt)
    li = load_table(spark, sf_dir, "lineitem")
    li.filter(F.col("l_orderkey") % 2 == 0).write.parquet(
        os.path.join(alt, "lineitem.parquet")
    )
    wh2 = A.graph_warehouse(spark, alt)
    assert wh2 != wh1


def test_purchase_bipartite_artifact(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    edges = A.ensure_purchase_bipartite(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    want = {
        (r.o_custkey, r.l_partkey)
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    }
    assert {(r.src, r.dst) for r in edges.collect()} == want

    # ADVICE r9 invalidation: an ORDERS-ONLY change (same lineitem, so
    # the graph warehouse key is identical) must re-key the bipartite
    # artifact — the stale edge list must be structurally unreachable
    alt = str(tmp_path / "altsf_orders")
    os.makedirs(alt)
    load_table(spark, sf_dir, "lineitem").write.parquet(
        os.path.join(alt, "lineitem.parquet")
    )
    o_all = load_table(spark, sf_dir, "orders")
    o_all.withColumn(
        "o_custkey", (F.col("o_custkey") + F.lit(1))
    ).write.parquet(os.path.join(alt, "orders.parquet"))
    assert A.graph_warehouse(spark, alt) == A.graph_warehouse(
        spark, sf_dir
    )
    assert A.orders_key(spark, alt) != A.orders_key(spark, sf_dir)
    edges2 = A.ensure_purchase_bipartite(spark, alt)
    want2 = {(c + 1, p) for (c, p) in want}
    assert {(r.src, r.dst) for r in edges2.collect()} == want2


def test_monitor_fresh_checkpoint_clears_stale_partials(spark, sf_dir, tmp_path):
    """ADVICE r8 (streaming/monitor.py): re-running the monitor stream
    with a FRESH checkpoint over an existing store must not
    double-count the stale per-batch partials — batch 0 clears the
    partials root, so the readout equals the single-run readout."""
    from commercial_rfp_data_pipeline_spark.streaming.monitor import (
        monitor_ingest_sink,
        monitor_readout,
        read_events_stream,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    inp = str(tmp_path / "in")
    events.coalesce(1).write.parquet(inp)
    store = str(tmp_path / "store")

    q = monitor_ingest_sink(
        read_events_stream(spark, inp), spark, store, str(tmp_path / "ck1")
    )
    q.awaitTermination()
    r1 = {tuple(r) for r in monitor_readout(spark, store).collect()}

    # same store, NEW checkpoint: without the batch-0 clear this
    # doubles every n/s/ss and shifts every z
    q2 = monitor_ingest_sink(
        read_events_stream(spark, inp), spark, store, str(tmp_path / "ck2")
    )
    q2.awaitTermination()
    r2 = {tuple(r) for r in monitor_readout(spark, store).collect()}
    assert r2 == r1


def test_audio_envelope_hash_invariances(spark):
    """Round-9 audio chain: gain-scaled and duplicated-channel-stereo
    re-encodings of one signal are byte-distinct WAVs that hash
    IDENTICALLY through the exact-integer envelope path, while an
    independent signal does not; the synthesized corpus clusters by
    5-doc gain family."""
    from commercial_rfp_data_pipeline_spark.functions.wav import encode_wav
    from commercial_rfp_data_pipeline_spark.operators.multimodal import (
        perceptual_ahash_audio_envelope,
        synth_wav_corpus,
    )

    base = [((17 * (k + 1) * 2654435761) % 9001) - 4500 for k in range(512)]
    rows = [
        (0, encode_wav(base, n_channels=1)),
        (1, encode_wav([3 * v for v in base], n_channels=1)),  # gain x3
        (2, encode_wav([v for v in base for _ in (0, 1)], n_channels=2)),
        (3, encode_wav([((k * 7919) % 9001) - 4500 for k in range(512)])),
    ]
    assert len({r[1] for r in rows}) == 4  # all byte-distinct
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.doc_id: r.ahash
        for r in perceptual_ahash_audio_envelope(df).collect()
    }
    assert got[0] == got[1] == got[2]
    assert got[3] != got[0]

    # synthesized corpus: members 0-3 of a gain family share the hash
    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    h = {
        r.doc_id: r.ahash
        for r in perceptual_ahash_audio_envelope(
            synth_wav_corpus(docs)
        ).collect()
    }
    for fam in range(0, 20, 5):
        assert h[fam] == h[fam + 1] == h[fam + 2] == h[fam + 3]
    assert h[0] != h[5]


def test_triangle_closure_paths_agree(spark, sf_dir, monkeypatch):
    """Round-9 triangle restructure: the broadcast closure (edge count
    under SPARK_GRAFT_TRI_BC_EDGES) and the partitioned semi-join
    closure (the 100-TB path) must produce the identical count."""
    from commercial_rfp_data_pipeline_spark.io import release_pinned
    from commercial_rfp_data_pipeline_spark.queries.graph_q import (
        q_triangle_count,
    )

    # force the distributed paths: the round-10 small-graph local
    # kernel would otherwise serve both sides identically and void
    # the broadcast-vs-partitioned comparison this test exists for
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "0")
    bc = q_triangle_count(spark, sf_dir).collect()
    release_pinned()
    monkeypatch.setenv("SPARK_GRAFT_TRI_BC_EDGES", "0")
    part = q_triangle_count(spark, sf_dir).collect()
    assert [tuple(r) for r in bc] == [tuple(r) for r in part]
    assert bc[0].n_triangles >= 0


def test_dsir_selection_is_limit_first(spark, sf_dir):
    """dsir_importance_resample must select via TakeOrderedAndProject
    (orderBy().limit() BEFORE the rank window — the registry's
    limit-first discipline) and plan no CartesianProduct."""
    from commercial_rfp_data_pipeline_spark.registry import all_queries

    q_dsir_importance_resample = all_queries()["dsir_importance_resample"]

    p = q_dsir_importance_resample(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_dsir_target_slice_dominates(spark, sf_dir):
    """Sanity the data curator checks: the DSIR top-100 should be
    dominated by target-language docs (en importance weights are
    positive by construction of the target LM)."""
    from commercial_rfp_data_pipeline_spark.registry import all_queries

    q_dsir_importance_resample = all_queries()["dsir_importance_resample"]

    rows = q_dsir_importance_resample(spark, sf_dir).collect()
    assert len(rows) == 100
    langs = [r.lang for r in rows]
    assert langs.count("en") > 50
    # ranks are 1..100, weights non-increasing
    assert [r.rnk for r in rows if True] == sorted(r.rnk for r in rows)
    ws = [r.dsir_weight for r in sorted(rows, key=lambda r: r.rnk)]
    assert all(a >= b for a, b in zip(ws, ws[1:]))


def test_framestack_roundtrip_and_video_signature(spark):
    """Round-9 video seam: the framestack container round-trips frame
    bytes exactly; pixel-identical clips re-encoded with different PNG
    filters/zlib levels share a signature; a trimmed clip splits; a
    corrupt payload yields the NULL sentinel."""
    import pytest as _pytest

    from commercial_rfp_data_pipeline_spark.functions.framestack import (
        decode_framestack,
        encode_framestack,
    )
    from commercial_rfp_data_pipeline_spark.functions.png import encode_png
    from commercial_rfp_data_pipeline_spark.operators.multimodal import (
        synth_wav_corpus,  # noqa: F401 (audio twin import sanity)
        synth_video_corpus,
        video_frame_signature,
    )

    px = [bytes((17 * (f * 64 + i + 1)) % 251 for i in range(64)) for f in range(4)]
    frames = [encode_png(8, 8, p, color_type=0) for p in px]
    assert decode_framestack(encode_framestack(frames)) == frames
    with _pytest.raises(ValueError):
        decode_framestack(b"JUNKJUNKJUNK")

    rows = [
        (0, encode_framestack([encode_png(8, 8, p, color_type=0, filter_type=0, compress_level=1) for p in px])),
        (1, encode_framestack([encode_png(8, 8, p, color_type=0, filter_type=2, compress_level=9) for p in px])),
        (2, encode_framestack([encode_png(8, 8, p, color_type=0) for p in px[:2]])),  # trimmed
        (3, b"not a container"),
    ]
    assert rows[0][1] != rows[1][1]  # byte-distinct re-encodes
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.n_frames, r.video_sig) for r in video_frame_signature(df).collect()}
    assert got[0] == got[1]  # pixel-identical -> same signature
    assert got[2][1] != got[0][1]  # trimmed clip splits
    assert got[3] == (None, None)  # corrupt -> NULL sentinel

    # synthesized corpus: 5-doc families share signatures except the
    # trimmed variant (doc_id % 5 == 4)
    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    h = {
        r.doc_id: r.video_sig
        for r in video_frame_signature(synth_video_corpus(docs)).collect()
    }
    assert h[0] == h[1] == h[2] == h[3]
    assert h[4] != h[0]
    assert h[0] != h[5]
