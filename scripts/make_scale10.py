#!/usr/bin/env python
"""Synthesize a 10x-sf0.1 ("sf1-equivalent") dataset for the second
scale decade (round 8, VERDICT r7 #6).

The driver's testdata tops out at sf0.1; the alpha >= 0.5 queries
(fuzzy_name_pairs 0.67, jaccard_prefix_filter_pairs 0.63,
entity_resolution 0.63, trigram_index_substring_search 0.60,
semdedup_prune 0.58, community_modularity 0.51,
multimodal_phash_neardup 0.50) are all sub-linear over ONE decade;
this script manufactures the decade above it so scale_smoke can verify
alphas stay < 1 over sf0.1 -> sf1.

Generation is deterministic (md5-seeded) and distribution-preserving:

- documents (5k -> 50k): nine replicas of each sf0.1 doc with ~35% of
  words resampled from the SAME 31-word vocabulary. The rate is chosen
  to hold the corpus's NEAR-DUP RATE roughly constant across the
  decade: at 1/8 resampling the replicas stayed inside the perceptual
  Hamming<=6 ball of their base, manufacturing a 10x duplication
  factor that grew the true pair OUTPUT quadratically (measured alpha
  1.13 on multimodal_phash_neardup — output growth, not plan
  breakdown); at ~35% the replicas leave both the SimHash<=3 and
  aHash<=6 balls, so pair volume scales with the corpus the way the
  base corpus's does. (Exact copies would be worse still; pure random
  text would understate bucket occupancy.)
- customer (15k -> 150k): the key sequence simply CONTINUES
  (Customer#%09d) — consecutive numbers are lev-1 neighbors, which is
  exactly the chain skew the fuzzy/ER operators document.
- embeddings (2k -> 20k): md5-derived 64-dim vectors matching the
  base value scale, labels uniform over the same 10 classes.
- lineitem (600k -> 6M): nine replicas with orderkey AND partkey
  offset per replica — ten disjoint copies of the co-purchase graph
  (node and edge count x10; replicating with shared partkeys would
  only grow edge WEIGHTS and fake the graph alpha).

Output: <repo>/scale10/ (gitignored — regenerable by this script;
testdata itself is never touched).

Usage: python scripts/make_scale10.py [out_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
REPS = 9  # plus the originals = 10x


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "scale10")
    spark = get_spark(app_name="make_scale10")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- documents ----
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.count()
    vocab = [
        r.w
        for r in docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .distinct()
        .collect()
        if r.w
    ]
    vocab = sorted(vocab)
    bvocab = spark.sparkContext.broadcast(vocab)

    def perturb(batches):
        import hashlib

        import pandas as pd

        vv = bvocab.value
        for pdf in batches:
            rows = []
            for doc_id, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                for rep in range(1, REPS + 1):
                    words = text.split(" ")
                    out_w = []
                    for i, w in enumerate(words):
                        h = hashlib.md5(
                            f"{doc_id}:{rep}:{i}".encode()
                        ).digest()
                        if h[0] < 90:  # ~35% resampled (see module doc)
                            out_w.append(vv[h[1] % len(vv)])
                        else:
                            out_w.append(w)
                    t = " ".join(out_w)
                    rows.append(
                        (doc_id + n_docs * rep, t, lang, source, len(t))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "text", "lang", "source", "n_chars"],
            )

    extra_docs = docs.repartition(32).mapInPandas(
        perturb,
        schema=(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ),
    )
    docs.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(extra_docs).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    print("documents:", spark.read.parquet(f"{out}/documents.parquet").count())

    # ---- customer ----
    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    n_cust = cust.count()
    segs = [r.c_mktsegment for r in cust.select("c_mktsegment").distinct().collect()]
    rep = spark.range(1, REPS + 1).select(F.col("id").alias("rep"))
    extra_cust = (
        cust.crossJoin(rep)
        .select(
            (F.col("c_custkey") + F.lit(n_cust) * F.col("rep")).alias(
                "c_custkey"
            ),
            F.format_string(
                "Customer#%09d",
                F.col("c_custkey") + F.lit(n_cust) * F.col("rep"),
            ).alias("c_name"),
            F.pmod(
                F.xxhash64(
                    (F.col("c_custkey") + F.lit(n_cust) * F.col("rep")).cast(
                        "string"
                    )
                ),
                F.lit(25),
            )
            .cast("int")
            .alias("c_nationkey"),
            F.round(
                F.pmod(
                    F.xxhash64(
                        F.concat(
                            F.lit("bal"),
                            (
                                F.col("c_custkey")
                                + F.lit(n_cust) * F.col("rep")
                            ).cast("string"),
                        )
                    ),
                    F.lit(999999),
                )
                / 100.0,
                2,
            ).alias("c_acctbal"),
            F.element_at(
                F.array(*[F.lit(s) for s in sorted(segs)]),
                (
                    F.pmod(
                        F.col("c_custkey") + F.lit(n_cust) * F.col("rep"),
                        F.lit(len(segs)),
                    )
                    + 1
                ).cast("int"),
            ).alias("c_mktsegment"),
        )
    )
    cust.unionByName(extra_cust).write.mode("overwrite").parquet(
        f"{out}/customer.parquet"
    )
    print("customer:", spark.read.parquet(f"{out}/customer.parquet").count())

    # ---- embeddings ----
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_emb = emb.count()
    dim = len(emb.first().embedding)
    new_ids = spark.range(n_emb, n_emb * (REPS + 1)).select(
        F.col("id").alias("vec_id")
    )
    # md5-derived components, centered and scaled to the base table's
    # observed magnitude (~0.12 std)
    comp = F.array(
        *[
            (
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("vec_id").cast("string"),
                                    F.lit(str(j)),
                                )
                            ),
                            1,
                            4,
                        ),
                        16,
                        10,
                    ).cast("double")
                    / F.lit(65535.0)
                    - F.lit(0.5)
                )
                * F.lit(0.42)
            ).cast("float")
            for j in range(dim)
        ]
    )
    extra_emb = new_ids.select(
        "vec_id",
        comp.alias("embedding"),
        F.pmod(F.col("vec_id"), F.lit(10)).cast("int").alias("label"),
    )
    emb.unionByName(extra_emb).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    print("embeddings:", spark.read.parquet(f"{out}/embeddings.parquet").count())

    # ---- lineitem (disjoint graph copies) ----
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    maxes = li.agg(
        F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
    ).collect()[0]
    mo, mp = maxes.mo + 1, maxes.mp + 1
    extra_li = li.crossJoin(rep).select(
        *[
            (
                (F.col("l_orderkey") + F.lit(mo) * F.col("rep")).alias(
                    "l_orderkey"
                )
                if c == "l_orderkey"
                else (F.col("l_partkey") + F.lit(mp) * F.col("rep")).alias(
                    "l_partkey"
                )
                if c == "l_partkey"
                else F.col(c)
            )
            for c in li.columns
        ]
    )
    li.unionByName(extra_li).write.mode("overwrite").parquet(
        f"{out}/lineitem.parquet"
    )
    print("lineitem:", spark.read.parquet(f"{out}/lineitem.parquet").count())

    # small dims copied unchanged so queries that join them still run
    for t in ("region", "nation", "supplier", "part", "orders", "events"):
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    print("done:", out)


if __name__ == "__main__":
    main()
