"""Round-10 additions: the durable fuzzy-linkage pair artifact
(VERDICT r9 next-round #3) — artifact == inline, reuse, invalidation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table


def test_cc_local_fast_path_equals_distributed(spark, monkeypatch):
    """Round 10: dup_clusters takes a driver-side union-find fast path
    when the verified edge set is under SPARK_GRAFT_CC_LOCAL_EDGES —
    both paths must produce identical (id, cluster_id) labels (label =
    component min) on chains, triangles, random graphs, empty edge
    sets, and string ids."""
    import random

    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        dup_clusters,
    )

    random.seed(7)
    nodes = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    edges = (
        [(i, i + 1) for i in range(0, 50)]
        + [(60, 61), (61, 62), (62, 60)]
        + [
            (random.randint(70, 199), random.randint(70, 199))
            for _ in range(100)
        ]
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_a long, doc_b long"
    )
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "100000")
    fast = {(r.doc_id, r.cluster_id) for r in dup_clusters(nodes, pairs).collect()}
    assert dup_clusters.last_rounds == 0  # fast path taken
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "0")
    slow = {(r.doc_id, r.cluster_id) for r in dup_clusters(nodes, pairs).collect()}
    assert dup_clusters.last_rounds > 0  # distributed path taken
    assert fast == slow

    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "100000")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = {(r.doc_id, r.cluster_id) for r in dup_clusters(nodes, empty).collect()}
    assert out == {(i, i) for i in range(200)}

    snodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "doc_id string")
    spairs = spark.createDataFrame([("b", "c"), ("c", "d")], "doc_a string, doc_b string")
    sout = {(r.doc_id, r.cluster_id) for r in dup_clusters(snodes, spairs).collect()}
    assert sout == {("a", "a"), ("b", "b"), ("c", "b"), ("d", "b")}

    # VERDICT r10 #7: STRING ids + EMPTY pair table — the fast path's
    # null label must carry the id type (a hardcoded long null makes
    # coalesce(long, string) a type-resolution hazard under ANSI)
    sempty = spark.createDataFrame([], "doc_a string, doc_b string")
    sout2 = {
        (r.doc_id, r.cluster_id)
        for r in dup_clusters(snodes, sempty).collect()
    }
    assert sout2 == {("a", "a"), ("b", "b"), ("c", "c"), ("d", "d")}


def test_fuzzy_pairs_artifact_matches_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.linkage import (
        fuzzy_pairs,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    served = A.ensure_fuzzy_customer_pairs(spark, sf_dir)
    inline = fuzzy_pairs(
        load_table(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey"],
    )
    key = lambda df: {
        (r.id_a, r.id_b, r.name_a, r.name_b, r.dist) for r in df.collect()
    }
    assert key(served) == key(inline)


def test_entity_cluster_artifact_matches_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        dup_clusters,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    served = A.ensure_customer_entity_clusters(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    inline = dup_clusters(
        c,
        A.ensure_fuzzy_customer_pairs(spark, sf_dir),
        id_col="c_custkey",
        a_col="id_a",
        b_col="id_b",
    )
    key = lambda df: {(r.c_custkey, r.cluster_id) for r in df.collect()}
    assert key(served) == key(inline)


def test_fuzzy_pairs_artifact_reuse_and_invalidation(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    A.ensure_fuzzy_customer_pairs(spark, sf_dir)
    root = os.path.join(
        str(tmp_path / "art"),
        f"linkage-{A.customer_linkage_key(spark, sf_dir)}",
    )
    mpath = os.path.join(root, "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    A.ensure_fuzzy_customer_pairs(spark, sf_dir)
    assert os.path.getmtime(mpath) == mt0  # served, not rebuilt

    # a NAME-ONLY customer change re-keys: stale pairs unreachable
    alt = str(tmp_path / "altsf_cust")
    os.makedirs(alt)
    c = load_table(spark, sf_dir, "customer")
    c.withColumn("c_name", F.concat(F.col("c_name"), F.lit("x"))).write.parquet(
        os.path.join(alt, "customer.parquet")
    )
    assert A.customer_linkage_key(spark, alt) != A.customer_linkage_key(
        spark, sf_dir
    )


def test_image_phash_artifact_matches_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10: the image perceptual chain serves from the durable
    corpus-keyed artifact (pairs + clusters) — artifact == the inline
    derivation, and a second ensure() serves without rebuilding."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        dup_clusters,
    )
    from commercial_rfp_data_pipeline_spark.operators.multimodal import (
        AHASH_HAM_T,
        attach_binary,
        perceptual_ahash,
        perceptual_dhash,
        phash_agreement_pairs,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    ah_s, dh_s, pairs_s, clusters_s = A.ensure_image_phash(spark, sf_dir)

    docs = load_table(spark, sf_dir, "documents")
    b = attach_binary(docs)
    ah_i = perceptual_ahash(b).localCheckpoint()
    dh_i = perceptual_dhash(b).localCheckpoint()
    pairs_i = phash_agreement_pairs(ah_i, dh_i, max_hamming=AHASH_HAM_T)

    pkey = lambda df: {
        (r.doc_a, r.doc_b, r.ham_ahash, r.ham_dhash) for r in df.collect()
    }
    assert pkey(pairs_s) == pkey(pairs_i)

    clusters_i = dup_clusters(
        docs.select("doc_id"),
        pairs_i.filter(F.col("ham_ahash") <= AHASH_HAM_T),
    )
    ckey = lambda df: {(r.doc_id, r.cluster_id) for r in df.collect()}
    assert ckey(clusters_s) == ckey(clusters_i)

    # hash tables round-trip bits/bands through parquet losslessly
    hkey = lambda df, hx: {
        (r.doc_id, r[hx], tuple(r.bits), tuple(r.bands))
        for r in df.collect()
    }
    assert hkey(ah_s, "ahash") == hkey(ah_i, "ahash")
    assert hkey(dh_s, "dhash") == hkey(dh_i, "dhash")

    # second ensure serves from the manifest — no rebuild
    root = os.path.join(
        A.corpus_warehouse(spark, sf_dir), "image_phash_v1"
    )
    mpath = os.path.join(root, "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    A.ensure_image_phash(spark, sf_dir)
    assert os.path.getmtime(mpath) == mt0


def test_jaccard_pairs_artifact_matches_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10: the verified Jaccard pair table serves from the
    corpus warehouse — stored == the inline PPJoin derivation at the
    shared operating point, and a second ensure() serves without
    rebuilding."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        jaccard_prefix_filter_pairs,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    served = A.ensure_jaccard_pairs(spark, sf_dir)
    toks, dft, _ = A.ensure_token_index(spark, sf_dir, k=3)
    inline = jaccard_prefix_filter_pairs(
        None,
        t_num=1,
        t_den=2,
        max_doc_freq=100,
        distinct_sh=toks.select("doc_id", F.col("tok").alias("sh")),
        dft=dft.select(F.col("tok").alias("sh"), "df"),
    )
    key = lambda df: {
        (r.doc_a, r.doc_b, r.common, r.jaccard) for r in df.collect()
    }
    assert key(served) == key(inline)

    root = os.path.join(
        A.corpus_warehouse(spark, sf_dir), "jaccard_pairs_k3_t12_df100"
    )
    mpath = os.path.join(root, "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    A.ensure_jaccard_pairs(spark, sf_dir)
    assert os.path.getmtime(mpath) == mt0


def test_copurchase_append_equals_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10: incremental co-purchase maintenance — appending a
    whole-order delta to the previous snapshot's artifact produces
    exactly the edge/degree tables a full rebuild of the combined
    corpus produces, registered under the combined corpus's content
    key (so ensure_copurchase_graph serves it without rebuilding)."""
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    base_dir = str(tmp_path / "base_sf")
    os.makedirs(base_dir)
    li.filter(F.col("l_orderkey") % 2 == 0).write.parquet(
        os.path.join(base_dir, "lineitem.parquet")
    )
    delta = li.filter(F.col("l_orderkey") % 2 == 1)

    # warehouse A: append path
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whA"))
    aw, ad = A.append_to_copurchase_graph(spark, base_dir, delta, sf_dir)
    ekey = lambda df: {
        (r.src, r.dst, r.w, r.w_dist) for r in df.collect()
    }
    dkey = lambda df: {(r.id, r.d) for r in df.collect()}
    a_edges, a_degs = ekey(aw), dkey(ad)

    # the appended artifact lives under the COMBINED corpus key:
    # ensure() must serve it, not rebuild it
    root = os.path.join(
        A.graph_warehouse(spark, sf_dir), "copurchase"
    )
    mpath = os.path.join(root, "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    sw, sd = A.ensure_copurchase_graph(spark, sf_dir)
    assert os.path.getmtime(mpath) == mt0
    assert ekey(sw) == a_edges

    # warehouse B: fresh full rebuild of the combined corpus
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whB"))
    rw, rd = A.ensure_copurchase_graph(spark, sf_dir)
    assert ekey(rw) == a_edges
    assert dkey(rd) == a_degs

    # manifest n_edges literal (broadcast-dispatch input) matches too
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whA"))
    nA = A.copurchase_n_edges(spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whB"))
    nB = A.copurchase_n_edges(spark, sf_dir)
    assert nA == nB == len(a_edges)


def test_bipartite_append_equals_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10: incremental bipartite maintenance — whole-order delta
    append == full rebuild, published under the combined corpus's
    lineitem+orders double key."""
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    base_dir = str(tmp_path / "base_sf")
    os.makedirs(base_dir)
    o.filter(F.col("o_orderkey") % 2 == 0).write.parquet(
        os.path.join(base_dir, "orders.parquet")
    )
    li.filter(F.col("l_orderkey") % 2 == 0).write.parquet(
        os.path.join(base_dir, "lineitem.parquet")
    )
    d_orders = o.filter(F.col("o_orderkey") % 2 == 1)
    d_li = li.filter(F.col("l_orderkey") % 2 == 1)

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whA"))
    appended = A.append_to_purchase_bipartite(
        spark, base_dir, d_orders, d_li, sf_dir
    )
    ekey = lambda df: {(r.src, r.dst) for r in df.collect()}
    a_edges = ekey(appended)

    root = os.path.join(
        A.graph_warehouse(spark, sf_dir),
        f"bipartite-{A.orders_key(spark, sf_dir)}",
    )
    mpath = os.path.join(root, "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    assert ekey(A.ensure_purchase_bipartite(spark, sf_dir)) == a_edges
    assert os.path.getmtime(mpath) == mt0  # served, not rebuilt

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whB"))
    assert ekey(A.ensure_purchase_bipartite(spark, sf_dir)) == a_edges


# ---- round-10 wave 2: vector-model / minhash-eval / clean-pool artifacts ----


def _rows(df, *cols):
    return {
        tuple(
            tuple(v) if isinstance(v, list) else v
            for v in (getattr(r, c) for c in cols)
        )
        for r in df.collect()
    }


def test_ivf_models_artifact_matches_inline(spark, sf_dir, tmp_path, monkeypatch):
    """Round 10 wave 2: the trained IVF coarse quantizer (centroids +
    cell layout) serves from the embeddings-keyed artifact — stored ==
    the inline Lloyd derivation, and a second ensure() serves without
    rebuilding."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        ivf_assign,
        ivf_centroids,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    cents, asg = A.ensure_ivf_models(spark, sf_dir)
    v = A._ann_vectors(spark, sf_dir)
    inline_cents = ivf_centroids(
        v.select("vec_id", "embedding"), n_centroids=16
    )
    assert _rows(cents, "cent_id", "cent_vec") == _rows(
        inline_cents, "cent_id", "cent_vec"
    )
    inline_asg = ivf_assign(
        v.select("vec_id", "embedding"), cents=inline_cents
    ).join(v.select("vec_id", "label"), "vec_id")
    assert _rows(asg, "vec_id", "cent_id", "label") == _rows(
        inline_asg, "vec_id", "cent_id", "label"
    )

    root = os.path.join(A.vector_warehouse(spark, sf_dir), "ivf16_v1")
    mt0 = os.path.getmtime(os.path.join(root, "MANIFEST.json"))
    A.ensure_ivf_models(spark, sf_dir)
    assert os.path.getmtime(os.path.join(root, "MANIFEST.json")) == mt0


def test_pq_models_artifact_matches_inline(spark, sf_dir, tmp_path, monkeypatch):
    """Round 10 wave 2: PQ codebooks + corpus codes serve from the
    embeddings-keyed artifact — stored == inline training/encoding."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        pq_codebooks,
        pq_encode,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    books, codes = A.ensure_pq_models(spark, sf_dir)
    v = A._ann_vectors(spark, sf_dir).select("vec_id", "embedding")
    inline_books = pq_codebooks(v, dim=64)
    assert _rows(books, "m", "code_id", "code_vec") == _rows(
        inline_books, "m", "code_id", "code_vec"
    )
    inline_codes = pq_encode(v, inline_books, dim=64)
    assert _rows(codes, "vec_id", "m", "code") == _rows(
        inline_codes, "vec_id", "m", "code"
    )


def test_knn_and_nn_descent_graph_artifacts_match_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10 wave 2: the exact 8-NN base graph and the NN-descent
    approximate graph serve from embeddings-keyed artifacts — stored ==
    the inline builds at the registry operating points."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        knn_graph,
        nn_descent_graph,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    v = A._ann_vectors(spark, sf_dir).select("vec_id", "embedding")
    served = A.ensure_knn_graph8(spark, sf_dir)
    inline = knn_graph(v, m=8)
    assert _rows(served, "src_id", "nbr_id", "rnk") == _rows(
        inline, "src_id", "nbr_id", "rnk"
    )
    served_nd = A.ensure_nn_descent_graph(spark, sf_dir)
    inline_nd = nn_descent_graph(v, dim=64, m=8, rounds=2, n_tables=6)
    assert _rows(served_nd, "src_id", "nbr_id", "rnk") == _rows(
        inline_nd, "src_id", "nbr_id", "rnk"
    )


def test_minhash_eval_artifact_matches_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10 wave 2: the MinHash signature table and the exact
    Jaccard>=0.2 ground-truth pair table serve from the corpus-keyed
    artifact — stored == the inline shingle->minhash / postings
    derivations."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        N_MINHASH,
        jaccard_pairs,
        minhash_signatures,
        shingles,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    sigs, truth = A.ensure_minhash_eval(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, parallelism=spark.sparkContext.defaultParallelism)
    mh_cols = ["doc_id"] + [f"mh{s}" for s in range(N_MINHASH)]
    assert _rows(sigs, *mh_cols) == _rows(
        minhash_signatures(sh), *mh_cols
    )
    inline_truth = jaccard_pairs(sh, threshold=0.2, max_doc_freq=100)
    assert _rows(truth, "doc_a", "doc_b", "common", "jaccard") == _rows(
        inline_truth, "doc_a", "doc_b", "common", "jaccard"
    )


def test_clean_pool_artifact_matches_inline(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10 wave 2: the training pipelines' (kept, clean) stage
    boundaries serve from the corpus-keyed clean-pool artifact —
    stored == the inline quality + contamination stages."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        contamination_overlap,
        repetition_features,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    kept, clean = A.ensure_clean_pool(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    inline_kept = corpus.join(
        repetition_features(corpus).filter("keep").select("doc_id"),
        "doc_id",
    )
    assert _rows(kept, "doc_id") == _rows(inline_kept, "doc_id")
    contaminated = (
        contamination_overlap(inline_kept, eval_docs, k=5)
        .filter("contaminated")
        .select("doc_id")
    )
    inline_clean = inline_kept.join(contaminated, "doc_id", "left_anti")
    assert _rows(clean, "doc_id") == _rows(inline_clean, "doc_id")


def test_vector_warehouse_rekeys_on_embeddings_change(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A label-only embeddings change must re-key the vector warehouse
    (labels are stored in the filtered-search cell layout), so stale
    ANN models can never be served."""
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    alt = str(tmp_path / "altsf_emb")
    os.makedirs(alt)
    emb = load_table(spark, sf_dir, "embeddings")
    emb.withColumn("label", F.col("label") + F.lit(1)).write.parquet(
        os.path.join(alt, "embeddings.parquet")
    )
    assert A.embeddings_key(spark, alt) != A.embeddings_key(spark, sf_dir)


# ---- round-10 wave 2: graph small-graph fast-path equality ----------


def test_graph_local_fast_paths_equal_distributed(spark, monkeypatch):
    """Round 10 wave 2: bfs_hops / sssp_bounded / label_propagation /
    hits run driver-side numpy kernels when the caller passes a
    manifest n_edges literal under SPARK_GRAFT_GRAPH_LOCAL_EDGES —
    each must produce IDENTICAL rows to the distributed join/groupBy
    loop on the same graph (hits bit-for-bit on the double scores,
    which proves the scaled-int decimal(18,6) replication)."""
    import random

    from commercial_rfp_data_pipeline_spark.operators import graph as G

    random.seed(11)
    edges = sorted(
        {
            (random.randint(0, 120), random.randint(0, 120))
            for _ in range(400)
        }
    )
    # duplicates exercise the assume_distinct=False dedup parity
    dup_edges = edges + edges[:50]
    e = spark.createDataFrame(dup_edges, "src long, dst long")
    we = spark.createDataFrame(
        [(s, d, 1 + (s + d) % 5) for s, d in edges], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    nodes = spark.createDataFrame([(i,) for i in range(121)], "id long")

    monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "100000")

    fast = {
        (r.id, r.hops)
        for r in G.bfs_hops(e, seeds, max_hops=3, n_edges=len(dup_edges)).collect()
    }
    assert G.bfs_hops.last_local
    slow = {(r.id, r.hops) for r in G.bfs_hops(e, seeds, max_hops=3).collect()}
    assert not G.bfs_hops.last_local
    assert fast == slow and fast

    fast = {
        (r.id, r.dist)
        for r in G.sssp_bounded(we, seeds, rounds=3, n_edges=len(edges)).collect()
    }
    assert G.sssp_bounded.last_local
    slow = {(r.id, r.dist) for r in G.sssp_bounded(we, seeds, rounds=3).collect()}
    assert not G.sssp_bounded.last_local
    assert fast == slow and fast

    fast = {
        (r.id, r.community)
        for r in G.label_propagation(
            nodes, e, n_iters=2, n_edges=len(dup_edges)
        ).collect()
    }
    assert G.label_propagation.last_local
    slow = {
        (r.id, r.community)
        for r in G.label_propagation(nodes, e, n_iters=2).collect()
    }
    assert not G.label_propagation.last_local
    assert fast == slow and fast

    for df, distinct in ((e, False), (e.distinct(), True)):
        fast = {
            (r.role, r.id, r.score)
            for r in G.hits(
                df, n_iters=3, assume_distinct=distinct, n_edges=500
            ).collect()
        }
        assert G.hits.last_local
        slow = {
            (r.role, r.id, r.score)
            for r in G.hits(df, n_iters=3, assume_distinct=distinct).collect()
        }
        assert not G.hits.last_local
        assert fast == slow and fast

    # over-limit n_edges must keep the distributed path
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "10")
    G.bfs_hops(e, seeds, max_hops=1, n_edges=len(dup_edges)).collect()
    assert not G.bfs_hops.last_local


def test_pagerank_local_fast_path_equals_distributed(spark, monkeypatch):
    """Round 10 wave 3: the driver-side PageRank kernel must agree
    with the distributed supersteps — outdeg exactly, rank/rank_rel at
    the 9 dp / 6 dp precision every registered consumer publishes
    (the per-destination double-sum order is the only difference, and
    the published rounding is the contract) — for all three registered
    semantics: uniform closed-form, personalized teleport, weighted."""
    import random

    from commercial_rfp_data_pipeline_spark.operators import graph as G

    random.seed(23)
    edir = sorted(
        {
            (random.randint(0, 150), random.randint(0, 150))
            for _ in range(500)
        }
    )
    edir = [(a, b) for a, b in edir if a != b]
    sym = sorted({(a, b) for a, b in edir} | {(b, a) for a, b in edir})
    e_sym = spark.createDataFrame(sym, "src long, dst long")
    e_w = spark.createDataFrame(
        [(a, b, 1 + (a * b) % 4) for a, b in sym], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(160)], "id long")
    tp_nodes = nodes.withColumn(
        "tp",
        F.when(F.col("id").isin(1, 2, 3), F.lit(1.0 / 3)).otherwise(
            F.lit(0.0)
        ),
    )

    def rounded(df):
        return {
            (r.id, r.outdeg, r.rank, r.rank_rel)
            for r in df.select(
                "id",
                "outdeg",
                F.round("rank", 9).alias("rank"),
                F.round("rank_rel", 6).alias("rank_rel"),
            ).collect()
        }

    monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "100000")
    cases = [
        dict(nodes=nodes, edges=e_sym),
        dict(nodes=tp_nodes, edges=e_sym, symmetric=False, teleport_col="tp"),
        dict(nodes=nodes, edges=e_w, weight_col="w"),
    ]
    for kw in cases:
        fast = rounded(G.pagerank(n_edges=len(sym), **kw))
        assert G.pagerank.last_local
        slow = rounded(G.pagerank(**kw))
        assert not G.pagerank.last_local
        assert fast == slow and fast


def test_kcore_local_fast_path_equals_distributed(spark, monkeypatch):
    """Round 10 wave 3: the driver-side k-core peel must produce
    identical (id, core_deg) rows to the distributed fixed-round
    peel."""
    import random

    from commercial_rfp_data_pipeline_spark.operators import graph as G

    random.seed(31)
    und = sorted(
        {
            tuple(sorted((random.randint(0, 80), random.randint(0, 80))))
            for _ in range(300)
        }
    )
    und = [(a, b) for a, b in und if a != b]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "src long, dst long")
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "100000")
    fast = {
        (r.id, r.core_deg)
        for r in G.kcore_peel(e, k=3, rounds=12, n_edges=len(sym)).collect()
    }
    assert G.kcore_peel.last_local
    slow = {
        (r.id, r.core_deg)
        for r in G.kcore_peel(e, k=3, rounds=12).collect()
    }
    assert not G.kcore_peel.last_local
    assert fast == slow and fast


def test_triangle_stats_local_exact_vs_bruteforce(spark):
    """Round 10 wave 3: triangle_stats_local (the small-graph path of
    triangle_count_copurchase) must match a brute-force triangle /
    wedge count on a random graph (the query-level artifact==inline
    proof is the oracle verify at sf0.001/sf0.01)."""
    import random
    from itertools import combinations

    from commercial_rfp_data_pipeline_spark.operators.graph import (
        triangle_stats_local,
    )

    random.seed(41)
    und = sorted(
        {
            tuple(sorted((random.randint(0, 60), random.randint(0, 60))))
            for _ in range(250)
        }
    )
    und = [(a, b) for a, b in und if a != b]
    nbrs: dict[int, set[int]] = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tri = sum(
        1
        for a, b, c in combinations(sorted(nbrs), 3)
        if b in nbrs[a] and c in nbrs[a] and c in nbrs[b]
    )
    wed = sum(len(s) * (len(s) - 1) // 2 for s in nbrs.values())
    und_df = spark.createDataFrame(und, "u long, v long")
    deg_df = spark.createDataFrame(
        [(i, len(s)) for i, s in nbrs.items()], "id long, d long"
    )
    row = triangle_stats_local(und_df, deg_df).collect()[0]
    assert row.n_triangles == tri
    assert row.n_wedges == wed
    assert row.global_clustering == round(3.0 * tri / wed, 6)


def test_modularity_and_triangle_local_equal_distributed_path(
    spark, sf_dir, monkeypatch
):
    """Round 10 wave 3: community_modularity and
    triangle_count_copurchase produce IDENTICAL rows whether the
    small-graph driver-side path serves them or the distributed path
    does (env toggle on the real sf0.001 corpus — the modularity
    doubles must match bit-for-bit because the local expression
    replicates the distributed one elementwise)."""
    from commercial_rfp_data_pipeline_spark.queries.graph_q import (
        q_community_modularity,
        q_triangle_count,
    )

    for fn in (q_community_modularity, q_triangle_count):
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "100000000")
        fast = {tuple(r) for r in fn(spark, sf_dir).collect()}
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "0")
        slow = {tuple(r) for r in fn(spark, sf_dir).collect()}
        assert fast == slow and fast


def test_lpa_labels_artifact_matches_inline_and_invalidates(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10 wave 4: the durable LPA label table must equal the
    inline 2-round propagation (distributed path forced, so the test
    crosses the artifact AND the kernel boundary), be served (not
    rebuilt) on the second call, and re-key on a part-only node-set
    change even when lineitem is unchanged."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    from commercial_rfp_data_pipeline_spark.operators.graph import (
        label_propagation,
    )
    from commercial_rfp_data_pipeline_spark.plans import artifacts as A

    served = A.ensure_lpa_labels(spark, sf_dir, n_iters=2)
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "0")
    wedges, _ = A.ensure_copurchase_graph(spark, sf_dir)
    nodes = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id")
    )
    inline = label_propagation(nodes, wedges.select("src", "dst"), n_iters=2)
    key = lambda df: {(r.id, r.community) for r in df.collect()}
    assert key(served) == key(inline) and key(served)

    root = os.path.join(
        A.graph_warehouse(spark, sf_dir),
        f"lpa2-{A.part_nodes_key(spark, sf_dir)}",
    )
    mpath = os.path.join(root, "MANIFEST.json")
    mt0 = os.path.getmtime(mpath)
    A.ensure_lpa_labels(spark, sf_dir, n_iters=2)
    assert os.path.getmtime(mpath) == mt0  # served, not rebuilt

    # a PART-ONLY change (node keyspace) re-keys the label artifact
    alt = str(tmp_path / "altsf_part")
    os.makedirs(alt)
    p = load_table(spark, sf_dir, "part")
    p.withColumn(
        "p_partkey", F.col("p_partkey") + F.lit(1_000_000)
    ).write.parquet(os.path.join(alt, "part.parquet"))
    assert A.part_nodes_key(spark, alt) != A.part_nodes_key(spark, sf_dir)


def test_bradley_terry_local_finisher_equals_distributed(
    spark, monkeypatch
):
    """Round 10 wave 4: the driver-side MM finisher must be
    BIT-IDENTICAL to the distributed rounds (DECIMAL state: exact
    sums; each float division replicates the distributed expression
    elementwise), and the collect cap must route oversized pair
    tables back to the distributed loop."""
    import random

    from pyspark.sql import Row

    from commercial_rfp_data_pipeline_spark.operators.experiment import (
        bradley_terry,
    )

    random.seed(17)
    names = [f"m{i}" for i in range(8)]
    rows = []
    for _ in range(400):
        a, b = random.sample(names, 2)
        rows.append(
            Row(model_a=a, model_b=b, winner=a if random.random() < 0.6 else b)
        )
    df = spark.createDataFrame(rows)
    fast = {tuple(r) for r in bradley_terry(df).collect()}
    assert bradley_terry.last_local
    monkeypatch.setenv("SPARK_GRAFT_BT_LOCAL_PAIRS", "0")
    slow = {tuple(r) for r in bradley_terry(df).collect()}
    assert not bradley_terry.last_local
    assert fast == slow and fast


def test_beam_search_local_equals_distributed(spark, sf_dir, monkeypatch):
    """Round 10 wave 5: the driver-side beam kernel (flat, 2-layer and
    3-layer HNSW) must produce IDENTICAL rows to the distributed
    per-round loop on the real corpus — sims replicate the fold/divide/
    HALF_UP-round chain bit-for-bit, so set equality is exact."""
    from commercial_rfp_data_pipeline_spark.queries.vector_q import (
        q_graph_ann_beam,
        q_graph_ann_hnsw,
        q_graph_ann_hnsw_deep,
    )

    for fn in (q_graph_ann_beam, q_graph_ann_hnsw, q_graph_ann_hnsw_deep):
        monkeypatch.setenv("SPARK_GRAFT_BEAM_LOCAL_VECS", "100000")
        fast = {tuple(r) for r in fn(spark, sf_dir).collect()}
        monkeypatch.setenv("SPARK_GRAFT_BEAM_LOCAL_VECS", "0")
        slow = {tuple(r) for r in fn(spark, sf_dir).collect()}
        assert fast == slow and fast


def test_kcenter_local_equals_distributed(spark, sf_dir, monkeypatch):
    """Round 10 wave 5: the driver-side Gonzalez kernel must replicate
    the distributed rounds exactly — md5-min seed, per-term HALF_UP
    9-dp round, exact DECIMAL(20,9) sums, (dist DESC, id) argmax."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        kcenter_coreset,
    )
    from commercial_rfp_data_pipeline_spark.queries.vector_q import (
        q_kcenter,
    )

    monkeypatch.setenv("SPARK_GRAFT_BEAM_LOCAL_VECS", "100000")
    fast = {tuple(r) for r in q_kcenter(spark, sf_dir).collect()}
    assert kcenter_coreset.last_local
    monkeypatch.setenv("SPARK_GRAFT_BEAM_LOCAL_VECS", "0")
    slow = {tuple(r) for r in q_kcenter(spark, sf_dir).collect()}
    assert not kcenter_coreset.last_local
    assert fast == slow and fast


def test_lsh_bucket_expr_text_matches_column_api(spark):
    """Round 10 wave 5: lsh_buckets' SQL-text construction must yield
    the same buckets the py4j Column-API construction produced — pin
    it against a hand-built Column form on a small random corpus."""
    import random

    from pyspark.sql import functions as F

    from commercial_rfp_data_pipeline_spark.operators.vector import (
        _dot,
        _hyperplane,
        lsh_buckets,
    )

    random.seed(23)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_id, r.bucket)
        for r in lsh_buckets(df, dim=16, n_bits=6).collect()
    }
    bits = []
    for b in range(6):
        plane = F.array(*[F.lit(x) for x in _hyperplane(16, b)])
        bits.append(
            F.when(_dot(F.col("embedding"), plane) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
        )
    want = {
        (r.vec_id, r.bucket)
        for r in df.withColumn("bucket", F.concat(*bits)).collect()
    }
    assert got == want and len(got) == 50


def test_pca_local_equals_distributed(spark, sf_dir, monkeypatch):
    """Round 10 wave 5: the driver-side power-iteration kernel matches
    the distributed rounds exactly — every intermediate is 6-dp rounded
    (the discipline that already absorbs engine sum-order differences
    for the oracle), so row equality is exact."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        pca_top_component,
    )
    from commercial_rfp_data_pipeline_spark.queries.vector_q import (
        q_pca_top_component,
    )

    monkeypatch.setenv("SPARK_GRAFT_BEAM_LOCAL_VECS", "100000")
    fast = {tuple(r) for r in q_pca_top_component(spark, sf_dir).collect()}
    assert pca_top_component.last_local
    monkeypatch.setenv("SPARK_GRAFT_BEAM_LOCAL_VECS", "0")
    slow = {tuple(r) for r in q_pca_top_component(spark, sf_dir).collect()}
    assert not pca_top_component.last_local
    assert fast == slow and fast
