"""Tests for the round-4 additions: C4 span dedup semantics, PageRank
fast-path/general-path agreement, unigram LM smoothing."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.operators.graph import pagerank
from commercial_rfp_data_pipeline_spark.operators.textops import (
    span_dedup,
    unigram_lm_score,
)


def test_span_dedup_keep_first_semantics(spark):
    """A span repeated across docs survives only at its first
    (doc_id, idx) occurrence; unique spans always survive; null text
    yields an empty rewrite row, not a dropped doc."""
    rows = [
        (1, "a b c d e f"),          # spans (len 3): 'a b c', 'd e f'
        (2, "a b c x y z"),          # 'a b c' duplicates doc1 idx0
        (3, "d e f"),                # duplicates doc1's second span
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup(df, span_len=3).collect()}
    assert len(out) == 4
    assert out[1].text_dedup == "a b c d e f"
    assert (out[1].n_spans, out[1].n_spans_kept) == (2, 2)
    assert out[2].text_dedup == "x y z"
    assert (out[2].n_spans, out[2].n_spans_kept) == (2, 1)
    assert out[3].text_dedup == ""
    assert (out[3].n_spans, out[3].n_spans_kept) == (1, 0)
    assert out[4].text_dedup == ""
    assert (out[4].n_spans, out[4].n_spans_kept) == (0, 0)


def test_span_dedup_partition_invariant(spark):
    """The keep-first rule depends on (doc_id, idx) only — results
    must not change with input partitioning."""
    rows = [(i, f"w{i % 7} x y z common span here pad{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        (r.doc_id, r.text_dedup, r.n_spans_kept)
        for r in span_dedup(df.repartition(1), span_len=4).collect()
    }
    b = {
        (r.doc_id, r.text_dedup, r.n_spans_kept)
        for r in span_dedup(df.repartition(13), span_len=4).collect()
    }
    assert a == b


def test_pagerank_symmetric_fast_path_matches_general(spark):
    """On a symmetrized graph the closed-form dangling recurrence must
    reproduce the in-plan aggregate path; mass sums to 1; the hub
    outranks leaves; the isolated vertex ranks lowest."""
    # star: 1-2, 1-3, 1-4 (symmetrized), vertex 5 isolated
    e = [(1, 2), (2, 1), (1, 3), (3, 1), (1, 4), (4, 1)]
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    edges = spark.createDataFrame(e, "src long, dst long")
    fast = {
        r.id: r.rank
        for r in pagerank(nodes, edges, symmetric=True, checkpoint=False).collect()
    }
    gen = {
        r.id: r.rank
        for r in pagerank(nodes, edges, symmetric=False, checkpoint=False).collect()
    }
    assert set(fast) == set(gen) == {1, 2, 3, 4, 5}
    for k in fast:
        assert math.isclose(fast[k], gen[k], rel_tol=0, abs_tol=1e-12), k
    assert math.isclose(sum(fast.values()), 1.0, abs_tol=1e-9)
    assert fast[1] > fast[2] > fast[5]
    assert math.isclose(fast[2], fast[3], abs_tol=1e-12)


def test_unigram_lm_smoothing_and_ranking(spark):
    """Unseen tokens get finite add-one-smoothed mass; a doc of rare
    tokens scores below a doc of common tokens; hand-computed value
    matches."""
    train = spark.createDataFrame(
        [(1, "the the the the cat"), (2, "the dog")],
        "doc_id long, text string",
    )
    score_df = spark.createDataFrame(
        [(10, "the the"), (11, "cat dog"), (12, "zebra")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in unigram_lm_score(score_df, train_df=train).collect()
    }
    # training counts: the=5, cat=1, dog=1 -> N=7, V=3
    n, v = 7, 3
    lp = lambda c: math.log(c + 1) - math.log(n + v + 1)
    assert math.isclose(out[10].avg_logprob, round(lp(5), 6), abs_tol=1e-6)
    assert math.isclose(out[11].avg_logprob, round((lp(1) + lp(1)) / 2, 6), abs_tol=1e-6)
    assert math.isclose(out[12].avg_logprob, round(lp(0), 6), abs_tol=1e-6)
    assert out[10].avg_logprob > out[11].avg_logprob > out[12].avg_logprob
    assert all(r.ppl > 0 for r in out.values())


def test_pagerank_rejects_nothing_but_handles_empty_edges(spark):
    """A graph with no edges degenerates to uniform teleport rank."""
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank(nodes, edges, symmetric=True, checkpoint=False).collect()
    ranks = [r.rank for r in out]
    assert math.isclose(sum(ranks), 1.0, abs_tol=1e-9)
    assert max(ranks) - min(ranks) < 1e-15


def test_jsonl_corpus_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """JSONL source: schema-pinned PERMISSIVE read routes malformed
    lines to _corrupt_record; sharded gzip JSONL sink lays out
    shard_id=K directories that read back to the same rows."""
    from commercial_rfp_data_pipeline_spark.sources.ingest import (
        read_jsonl_corpus,
        write_jsonl_shards,
    )

    src = tmp_path / "corpus.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "a"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "b"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 3, "text": "hola", "lang": "es", "source": "a"}\n'
    )
    # Spark disallows querying ONLY _corrupt_record from a raw JSON
    # scan — cache the parsed frame first (the documented pattern)
    df = read_jsonl_corpus(spark, str(src)).cache()
    good = df.filter("_corrupt_record IS NULL").drop("_corrupt_record")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert good.count() == 3 and bad.count() == 1
    assert bad.collect()[0]._corrupt_record == "THIS IS NOT JSON"

    from pyspark.sql import functions as F

    shards = good.withColumn("shard_id", F.col("doc_id") % 2)
    out = tmp_path / "shards"
    write_jsonl_shards(shards, str(out), "shard_id")
    import glob

    files = glob.glob(str(out / "shard_id=*/*.json.gz"))
    assert files, "expected gzip JSONL shard files"
    back = (
        spark.read.schema("doc_id long, text string, lang string, source string")
        .json(str(out))
        .select("doc_id", "text", "lang", "source")  # drop the partition col
    )
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in good.collect()
    }


def test_char_entropy_known_values(spark):
    """Entropy of 'aaaa' = 0; of 'abab' = 1 bit; of 'abcd' = 2 bits;
    uniform text maximizes, repetition minimizes."""
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import char_entropy

    out = {r.doc_id: r for r in char_entropy(df).collect()}
    assert out[1].entropy_bits == 0.0 and out[1].n_chars == 4
    assert out[2].entropy_bits == 1.0
    assert out[3].entropy_bits == 2.0
    assert 4 not in out  # empty text: entropy undefined, row excluded


def test_hourly_gap_fill_locf_semantics(spark, sf_dir):
    """Dense grid: consecutive hours per type with no holes; gap rows
    carry n=0 + the previous hour's metric."""
    from commercial_rfp_data_pipeline_spark.queries.events_q import (
        q_hourly_gap_fill,
    )

    rows = q_hourly_gap_fill(spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.window_start)
        for a, b in zip(rs, rs[1:]):
            assert (b.window_start - a.window_start).total_seconds() == 3600, et
        # every gap row must carry a non-null locf value after the
        # first observation, equal to the last real hour's metric
        last_real = None
        for r in rs:
            if r.n > 0:
                last_real = r.avg_value_locf
                assert not r.gap_filled
            elif last_real is not None:
                assert r.gap_filled and r.avg_value_locf == last_real, et


def test_dataset_split_stable_and_ratioed(spark):
    """Split assignment depends only on (seed, id): growing the corpus
    never reassigns an existing id; ratios land near 80/10/10."""
    from commercial_rfp_data_pipeline_spark.operators.textops import dataset_split

    small = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    s1 = {r.doc_id: r.split for r in dataset_split(small).collect()}
    s2 = {r.doc_id: r.split for r in dataset_split(big).collect()}
    assert all(s2[k] == v for k, v in s1.items())  # id-stable under growth
    from collections import Counter

    c = Counter(s2.values())
    assert 0.74 < c["train"] / 2000 < 0.86
    assert 0.06 < c["val"] / 2000 < 0.14
    assert 0.06 < c["test"] / 2000 < 0.14


def test_fuzzy_pairs_exhaustive_for_one_edit(spark):
    """Deletion-neighborhood blocking must find EVERY levenshtein<=1
    pair — substitution, insertion/deletion, and equality — and none
    beyond, matching a naive all-pairs scan (the testdata only
    exercises substitutions; this pins the shift cases)."""
    from commercial_rfp_data_pipeline_spark.operators.linkage import fuzzy_pairs

    rows = [
        (1, "alpha"), (2, "alpha"),      # equal
        (3, "alpho"),                     # substitution of 1
        (4, "alph"),                      # deletion of 1
        (5, "alphas"),                    # insertion of 1
        (6, "xlpha"),                     # substitution at position 0
        (7, "lpha"),                      # deletion at position 0
        (8, "beta"), (9, "betta"),        # separate group, insertion
        (10, "gamma"),                    # singleton
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs(df, id_col="id", name_col="name").collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 1
    }
    assert got == want


def test_zorder_layout_shrinks_both_dims(spark, sf_dir, tmp_path):
    """A z-ordered write must leave every file covering a small range
    of BOTH interleaved columns (min/max stats then prune scans on
    either), while a single-column sort leaves the other dimension
    unpruned. Checked from the parquet footers the pruning would
    actually use."""
    import pyarrow.parquet as pq

    from commercial_rfp_data_pipeline_spark.io import load_table
    from commercial_rfp_data_pipeline_spark.operators.layout import save_zordered

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    lo = {c: li.agg({c: "min"}).first()[0] for c in ("l_partkey", "l_suppkey")}
    hi = {c: li.agg({c: "max"}).first()[0] for c in ("l_partkey", "l_suppkey")}

    def mean_file_spans(path):
        """Per-dimension mean of the files' normalized min/max spans —
        the expected fraction of files a filter on that one column must
        read. (Mean AREA is the wrong metric: ANY n-way split has area
        ~1/n; z-order's win is bounding the WORST dimension.)"""
        import glob as g

        spans = {"l_partkey": [], "l_suppkey": []}
        files = g.glob(f"{path}/part-*.parquet")
        for f in files:
            md = pq.ParquetFile(f).metadata
            for col in spans:
                mn, mx = None, None
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        c = md.row_group(rg).column(ci)
                        if c.path_in_schema == col and c.statistics:
                            s = c.statistics
                            mn = s.min if mn is None else min(mn, s.min)
                            mx = s.max if mx is None else max(mx, s.max)
                spans[col].append((mx - mn + 1) / (hi[col] - lo[col] + 1))
        return (
            {c: sum(v) / len(v) for c, v in spans.items()},
            len(files),
        )

    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    save_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_partitions=8)
    # baseline: 1-D sort on partkey only — suppkey spans stay ~full
    from commercial_rfp_data_pipeline_spark.io import save_sorted

    save_sorted(li, spath, ["l_partkey"], n_partitions=8)
    z_spans, z_files = mean_file_spans(zpath)
    s_spans, s_files = mean_file_spans(spath)
    assert z_files >= 4 and s_files >= 4
    # 1-D layout prunes its sort key hard but leaves the other
    # dimension unprunable (span ~ 1); z-order bounds BOTH
    assert s_spans["l_suppkey"] > 0.9, s_spans
    assert z_spans["l_partkey"] < 0.6, z_spans
    assert z_spans["l_suppkey"] < 0.6 * s_spans["l_suppkey"], (z_spans, s_spans)


def test_distributed_prefix_sum_partition_invariant(spark):
    """The generalized prefix sum must equal the naive global window
    for EVERY partition count — the offsets reconstruct the exact
    global cumulative regardless of where range bounds fall — and must
    support multiple values (measure + rank) in one pass."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )

    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") * 37) % 101).alias("v")
    )
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.id: (r.c, r.rn)
        for r in df.select(
            "id",
            F.sum("v").over(w).alias("c"),
            F.sum(F.lit(1)).over(w).alias("rn"),
        ).collect()
    }
    for nparts in (2, 7, 32):
        got = {
            r.id: (r.cum_incl, r.rn_incl)
            for r in distributed_prefix_sum(
                df,
                values={"cum": F.col("v"), "rn": F.lit(1)},
                order_by=[F.col("v").desc(), F.col("id")],
                n_partitions=nparts,
            ).collect()
        }
        assert got == want, nparts


def test_optimize_table_compacts_and_zorders(spark, sf_dir, tmp_path):
    """OPTIMIZE-style maintenance: a fragmented table comes back with
    few files, identical rows, and both z-ordered dimensions bounded
    per file (spot-checked via footers)."""
    import glob

    import pyarrow.parquet as pq

    from commercial_rfp_data_pipeline_spark.io import load_table
    from commercial_rfp_data_pipeline_spark.operators.layout import optimize_table

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    path = str(tmp_path / "t")
    li.repartition(24).write.mode("overwrite").parquet(path)
    before_files = len(glob.glob(f"{path}/part-*.parquet"))
    before_sum = li.agg({"l_partkey": "sum"}).first()[0]
    n = optimize_table(spark, path, ["l_partkey", "l_suppkey"])
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) <= n < before_files
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    assert back.agg({"l_partkey": "sum"}).first()[0] == before_sum
    # every remaining file carries min/max stats (the pruning surface)
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.row_group(0).column(0).statistics is not None


def test_bpe_train_chain_merge_semantics(spark):
    """Pins the left-to-right non-overlap contract on pathological
    chains: with 'aaaa' dominating, round 1 must merge (a,a) giving
    [aa][aa] (not a triple), and round 2 must then merge (aa,aa) —
    verifying the regex fixpoint reproduces classic BPE exactly."""
    from commercial_rfp_data_pipeline_spark.operators.textops import bpe_train

    rows = [(1, "aaaa aaaa aaaa xy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.round: r for r in bpe_train(df, n_merges=2).collect()}
    assert (out[1].sym_a, out[1].sym_b, out[1].merged) == ("a", "a", "aa")
    # 'aaaa' = [a a a a] has 3 adjacent (a,a) sites but left-to-right
    # non-overlap counts 3 per word... each word contributes 3 pair
    # OCCURRENCES to the count (counting is over all adjacent pairs),
    # weighted by 3 words
    assert out[1].n == 9
    # after round 1 each 'aaaa' segments as [aa][aa] -> round 2 merges
    # (aa, aa), NOT (aa, a): the fixpoint left no stray singles
    assert (out[2].sym_a, out[2].sym_b, out[2].merged) == (
        "aa",
        "aa",
        "aaaa",
    )
    assert out[2].n == 3


def test_epoch_shuffle_is_partition_invariant_permutation(spark):
    """Positions form an exact 0..n-1 permutation, differ between
    epochs, and do not depend on the input partitioning (the
    determinism contract that makes retries/speculation safe)."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import epoch_shuffle

    df1 = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    df8 = df1.repartition(8)
    out1 = {r.doc_id: r.shuffle_pos for r in epoch_shuffle(df1, epoch=1).collect()}
    out8 = {r.doc_id: r.shuffle_pos for r in epoch_shuffle(df8, epoch=1).collect()}
    assert out1 == out8
    assert sorted(out1.values()) == list(range(500))
    out_e2 = {r.doc_id: r.shuffle_pos for r in epoch_shuffle(df1, epoch=2).collect()}
    assert sorted(out_e2.values()) == list(range(500))
    assert out_e2 != out1  # a fresh permutation per epoch


def test_naive_bayes_learns_separable_classes(spark):
    """On a corpus whose classes use disjoint vocabularies the
    classifier must be perfect, unseen tokens must not crash scoring,
    and an empty test doc falls back to the prior argmax."""
    from commercial_rfp_data_pipeline_spark.operators.classify import (
        naive_bayes_predict,
    )

    train = spark.createDataFrame(
        [(i, "apple banana cherry fruit", "food") for i in range(8)]
        + [(100 + i, "gear brake wheel engine", "auto") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [
            (200, "banana cherry", "food"),
            (201, "engine wheel brake", "auto"),
            (202, "zzz unseen tokens only", "food"),  # all-unk -> prior
            (203, "", "food"),  # no tokens -> prior argmax
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in naive_bayes_predict(train, test).collect()}
    assert out[200].predicted == "food" and out[200].correct
    assert out[201].predicted == "auto" and out[201].correct
    # all-unknown tokens: the smoothed floor ln(1/(N_c+V)) is HIGHER
    # for the class with less token mass (auto: 16 tokens vs 32), and
    # 4 floor terms outweigh the prior gap — textbook NB behavior
    assert out[202].predicted == "auto"
    # no tokens at all -> pure prior argmax (food: 8 docs vs 4)
    assert out[203].predicted == "food"
    assert len(out) == 4


def test_incremental_view_retraction_law(spark):
    """merge(state(base), state(delta)) == agg(effective rows), and a
    group fully retracted (cnt -> 0) disappears from the view."""
    from commercial_rfp_data_pipeline_spark.operators.incremental import (
        merge_states,
        view_state,
    )

    base = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k string, v long"
    )
    # delete both 'a' rows? no - delete one 'a', delete the only 'b',
    # insert a new 'c'
    delta = spark.createDataFrame(
        [("a", 10, -1), ("b", 5, -1), ("c", 7, 1)],
        "k string, v long, op int",
    )
    merged = merge_states(
        [
            view_state(base, ["k"], F.col("v")),
            view_state(delta, ["k"], F.col("v"), op=F.col("op")),
        ],
        ["k"],
    )
    out = {r.k: (r.cnt, r.total) for r in merged.collect()}
    assert out == {"a": (1, 20), "c": (1, 7)}  # 'b' fully retracted


def test_temperature_mix_upweights_low_resource(spark):
    """T=2 must give the minority group MORE than its proportional
    share and the majority LESS; T -> 1 recovers proportional; takes
    never exceed group size; deterministic under repartitioning."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import (
        temperature_mix,
    )

    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, "lang", budget=100, temperature=2.0)
    by = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # proportional would be 90/10; sqrt shares are 30/10 -> 75/25
    assert by["small"] > 10 and by["big"] < 90
    assert by["small"] + by["big"] <= 100
    prop = temperature_mix(df, "lang", budget=100, temperature=1.0)
    byp = {
        r.lang: r.n
        for r in prop.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert byp == {"big": 90, "small": 10}
    again = {
        (r.doc_id, r.lang)
        for r in temperature_mix(
            df.repartition(7), "lang", budget=100, temperature=2.0
        ).collect()
    }
    assert again == {(r.doc_id, r.lang) for r in out.collect()}


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment = 1.0
    while jaccard is low — the asymmetric detector's reason to
    exist."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        containment_pairs,
        shingles,
    )

    quote = "alpha beta gamma delta epsilon"
    long_doc = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, long_doc), (2, quote)], "doc_id long, text string"
    )
    out = containment_pairs(shingles(df), threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment == 1.0
    assert r.jaccard < 0.1


def test_merkle_diff_prunes_unchanged_buckets(spark):
    """Correctness: the pruned diff equals the direct diff. Pruning:
    with one changed row, the row-level join input is bounded by the
    changed BUCKET's size, not the table (checked by counting rows
    surviving the bucket semi-join)."""
    from commercial_rfp_data_pipeline_spark.operators.incremental import (
        merkle_diff,
    )

    v1 = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("val")
    )
    # one update, one delete, one insert
    v2 = (
        spark.range(0, 10000)
        .filter("id != 123")
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") == 456, F.lit(-1))
            .otherwise(F.col("id") * 7)
            .alias("val"),
        )
        .unionByName(
            spark.createDataFrame([(99999, 1)], "k long, val long")
        )
    )
    diff = merkle_diff(v1, v2, "k", ["val"])
    out = {(r.k, r.change) for r in diff.collect()}
    assert out == {(123, "deleted"), (456, "updated"), (99999, "inserted")}
    assert diff.count() == 3  # nothing else leaks out of unchanged buckets


def test_weighted_sample_favors_heavy_rows_and_is_stable(spark):
    """A-ES: a 100x-weight row must appear in essentially every top-k
    sample; sample is exactly k; deterministic under repartitioning;
    inclusion rate of heavy rows beats light rows."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, 1) for i in range(500)] + [(1000 + i, 100) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars int")
    out = weighted_sample(df, "n_chars", k=30)
    got = [r.doc_id for r in out.collect()]
    assert len(got) == 30 and len(set(got)) == 30
    heavy = sum(1 for d in got if d >= 1000)
    # 20 heavy rows carry 2000/2500 of the mass -> expect most of them in
    assert heavy >= 12, f"only {heavy} heavy rows sampled"
    again = [
        r.doc_id for r in weighted_sample(df.repartition(9), "n_chars", k=30).collect()
    ]
    assert got == again


def test_skyline_known_points(spark):
    """Hand-checked Pareto front incl. same-price and duplicate
    points: duplicates are both non-dominated; a same-price larger
    point is dominated."""
    from commercial_rfp_data_pipeline_spark.queries.relational import q_skyline  # noqa: F401
    from pyspark.sql import Window as W

    p = spark.createDataFrame(
        [
            (1, 10.0, 5),
            (2, 10.0, 3),   # dominates 1 (same price, smaller)
            (3, 8.0, 7),    # skyline (cheapest-ish, bigger)
            (4, 12.0, 2),   # skyline (smallest size)
            (5, 12.0, 2),   # duplicate of 4 -> both stay
            (6, 13.0, 2),   # dominated by 4 (cheaper, same size)
        ],
        "p_partkey long, price double, p_size int",
    )
    pd_ = p.select("p_partkey", F.col("price").cast("decimal(12,2)").alias("price"), "p_size")
    pg = pd_.groupBy("price").agg(F.min("p_size").alias("msize"))
    w = W.orderBy("price").rowsBetween(W.unboundedPreceding, -1)
    pg2 = pg.withColumn("pmin_strict", F.min("msize").over(w))
    joined = pd_.join(F.broadcast(pg2), "price")
    dominated = (
        F.col("pmin_strict").isNotNull()
        & (F.col("pmin_strict") <= F.col("p_size"))
    ) | (F.col("msize") < F.col("p_size"))
    got = sorted(r.p_partkey for r in joined.filter(~dominated).collect())
    assert got == [2, 3, 4, 5]


def test_quantize_binary_pack_and_hamming_match_python(spark):
    """Packed sign bits equal a driver-side Python packing for known
    vectors (incl. a 70-dim vector spanning two words and a bit-63
    sign-setting case), and hamming_distance(a, b) equals the
    sign-mismatch count over the raw floats."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        hamming_distance,
        quantize_binary,
    )

    vecs = {
        1: [1.0, -1.0, 0.0, 2.5] + [0.0] * 60,          # bits 0 and 3? no: >0 at 0,3
        2: [-1.0] * 63 + [3.0],                          # only bit 63 set -> negative long
        3: [1.0] * 70,                                   # spans two words
        4: [0.5 if i % 3 == 0 else -0.5 for i in range(70)],
    }

    def py_pack(v):
        words = []
        for w in range((len(v) + 63) // 64):
            acc = 0
            for i in range(w * 64, min(w * 64 + 64, len(v))):
                if v[i] > 0:
                    acc |= 1 << (i - w * 64)
            # to signed 64-bit
            if acc >= 1 << 63:
                acc -= 1 << 64
            words.append(acc)
        return words

    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: list(r.bits)
        for r in quantize_binary(df).collect()
    }
    for k, v in vecs.items():
        assert got[k] == py_pack(v), f"vec {k}: {got[k]} != {py_pack(v)}"
    # bit-63 word really is negative (sign bit set without ANSI abort)
    assert got[2][0] < 0

    same_len = {k: v for k, v in vecs.items() if len(v) == 70}
    packed = quantize_binary(
        df.filter(F.col("vec_id").isin(*same_len))
    )
    pairs = (
        packed.alias("a")
        .join(packed.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            hamming_distance(F.col("a.bits"), F.col("b.bits")).alias("h"),
        )
    )
    for r in pairs.collect():
        va, vb = vecs[r.ia], vecs[r.ib]
        expect = sum((x > 0) != (y > 0) for x, y in zip(va, vb))
        assert r.h == expect


def test_bigram_lm_sees_transitions_unigram_misses(spark):
    """Two docs with IDENTICAL unigram content but different word
    order: the one violating the corpus's dominant transitions gets a
    strictly higher bigram NLL, while the unigram model scores both
    identically — the discriminating power the bigram signal adds."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        bigram_lm_score,
        unigram_lm_score,
    )

    natural = "the cat sat on the mat"
    shuffled = "mat the on sat cat the"
    rows = [(i, natural) for i in range(10)] + [(100, shuffled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uni = {r.doc_id: r.avg_logprob for r in unigram_lm_score(df).collect()}
    assert uni[0] == uni[100]  # unigram can't tell them apart

    bi = {r.doc_id: r.avg_nll for r in bigram_lm_score(df).collect()}
    assert bi[100] > bi[0]     # bigram can
    # natural docs all score identically (deterministic, order-free)
    assert len({bi[i] for i in range(10)}) == 1


def test_bpe_encode_applies_trained_merges(spark):
    """Hand-traced train+apply on a 2-doc corpus: with words the(x3)
    cat(x2), round 1 merges 'h e' (count 3, lexicographic tiebreak over
    't h'), round 2 merges 't he' -> 'the'; encoding then costs 1 token
    per 'the' and 3 per 'cat', and the corpus join aggregates per
    doc."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        bpe_encode_words,
    )

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the the cat")], "doc_id long, text string"
    )
    enc = {r.word: (r.seq, r.n_tokens) for r in bpe_encode_words(df, n_merges=2).collect()}
    assert enc["the"] == ("the", 1)
    assert enc["cat"] == ("c a t", 3)


def test_dup_clusters_batched_probe_same_labels(spark):
    """The batched fixpoint probe (check_every > 1) must produce the
    IDENTICAL labeling as per-round probing — labels only decrease, so
    an unchanged sum across the window proves every intervening round
    was a no-op. Chain graph forces multi-round convergence."""
    from commercial_rfp_data_pipeline_spark.operators.dedup import dup_clusters

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    want = {i: 0 for i in range(n)}
    for ce in (1, 2, 3):
        got = {
            r.doc_id: r.cluster_id
            for r in dup_clusters(nodes, chain, check_every=ce).collect()
        }
        assert got == want, f"check_every={ce}"
        assert dup_clusters.last_rounds <= 12  # O(log n), not O(n)


def test_quantize_binary_empty_vector_yields_zero_words(spark):
    """An empty embedding packs to zero words, not the two bogus words
    a descending sequence(0, -1) would fabricate."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        quantize_binary,
    )

    df = spark.createDataFrame(
        [(1, []), (2, [1.0, -1.0])], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: (list(r.bits), r.n_dims) for r in quantize_binary(df).collect()}
    assert got[1] == ([], 0)
    assert got[2] == ([1], 2)


def test_merge_apply_validate_rejects_duplicate_change_keys(spark):
    """validate=True enforces MERGE's at-most-one-change-per-key rule;
    without it the helper trusts the caller."""
    import pytest

    from commercial_rfp_data_pipeline_spark.operators.incremental import (
        merge_apply,
    )

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "U", "x"), (1, "U", "y")], "k long, op string, v string"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        merge_apply(base, changes, keys=["k"], validate=True)
    ok = spark.createDataFrame(
        [(1, "U", "x"), (2, "D", None)], "k long, op string, v string"
    )
    got = {r.k: r.v for r in merge_apply(base, ok, keys=["k"], validate=True).collect()}
    assert got == {1: "x"}


def test_merge_apply_inverts_cdc_diff(spark, sf_dir):
    """The lakehouse pair's ALGEBRAIC LAW: applying the changeset that
    cdc-diffing two snapshots produces must reconstruct the second
    snapshot exactly — diff and merge are inverses. Exercised on the
    same two date-window views of orders the cdc_diff_snapshots query
    uses, so inserts, updates, and deletes all occur."""
    from commercial_rfp_data_pipeline_spark.io import load_table
    from commercial_rfp_data_pipeline_spark.operators.incremental import (
        merge_apply,
    )

    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    v1 = o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date")).select(cols)
    v2 = o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")).select(cols)

    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    changed = j.filter(
        F.col("a.o_orderkey").isNull()
        | F.col("b.o_orderkey").isNull()
        | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    )
    changeset = changed.select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(F.col("b.o_orderkey").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("b.o_orderstatus").alias("o_orderstatus"),
        F.col("b.o_totalprice").alias("o_totalprice"),
    )
    rebuilt = merge_apply(v1, changeset, keys=["o_orderkey"], validate=True)
    got = {tuple(r) for r in rebuilt.collect()}
    want = {tuple(r) for r in v2.collect()}
    assert got == want and len(want) > 0


def test_holt_linear_partition_invariant(spark):
    """The sequential series walk must be deterministic under any input
    partitioning — sort-inside-group makes the recursion order a data
    property, not a layout property."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import holt_linear

    rows = [("s1", i, float((i * 7) % 13)) for i in range(50)] + [
        ("s2", i, float((i * 3) % 11)) for i in range(50)
    ]
    df1 = spark.createDataFrame(rows, "k string, t long, y double").repartition(1)
    df16 = spark.createDataFrame(rows, "k string, t long, y double").repartition(16, "t")
    out1 = {(r.k, r.i): (r.level, r.trend) for r in holt_linear(df1, ["k"], "t", "y").collect()}
    out16 = {(r.k, r.i): (r.level, r.trend) for r in holt_linear(df16, ["k"], "t", "y").collect()}
    assert out1 == out16 and len(out1) == 100
