"""Text-analysis + chunking queries over ``documents`` — the LLM
training-data pipeline surface (BASELINE.json), each oracle-checked.

DuckDB mirrors share the engine's hashing scheme (md5) so signatures
are bit-identical; list/lambda SQL uses DuckDB 1.0 builtins only.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table, pin
from commercial_rfp_data_pipeline_spark.operators.chunking import chunk_text
from commercial_rfp_data_pipeline_spark.operators.textops import (
    bpe_token_count,
    fingerprint,
    lang_id,
    minhash_candidate_pairs,
    norm_text,
    quality_features,
    simhash,
    simhash_pairs,
    token_count,
    winnowing_fingerprints,
    words,
)
from commercial_rfp_data_pipeline_spark.registry import query

# shared SQL fragments ------------------------------------------------------

_NORM = "lower(trim(regexp_replace(CAST(text AS VARCHAR), '\\s+', ' ', 'g')))"

_SHINGLES_CTE = f"""
norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
wordlists AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
        FROM wordlists)
)
"""


@query(
    "chunk_documents",
    """
    WITH base AS (
      SELECT doc_id, text,
             1 + (greatest(length(text) - 120, 0) + 89) // 90 AS n_chunks
      FROM documents
    )
    SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(pos AS VARCHAR) AS chunk_id,
           CAST(doc_id AS VARCHAR) AS parent_id,
           CAST(pos AS INTEGER) AS pos,
           substr(text, 1 + pos * 90, 120) AS chunk
    FROM (SELECT doc_id, text, unnest(generate_series(0, n_chunks - 1)) AS pos FROM base)
    """,
)
def q_chunk(spark, sf_dir):
    """SplitSkill re-expression (indexer:164-176): size 120 / overlap 30
    on documents (the 2000/500 reference constants are module defaults;
    small sizes make the testdata actually split). Pure expression +
    posexplode — zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    out = chunk_text(docs, size=120, overlap=30)
    return out.select("chunk_id", "parent_id", F.col("pos").cast("int").alias("pos"), "chunk")


@query(
    "token_count",
    f"""
    SELECT doc_id,
           CASE WHEN length({_NORM}) = 0 THEN 0
                ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


@query(
    "bpe_token_count",
    f"""
    SELECT doc_id,
           len(regexp_extract_all({_NORM},
               '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+')) AS n_bpe_tokens
    FROM documents
    """,
)
def q_bpe_token_count(spark, sf_dir):
    """BPE-ish pre-tokenizer count (letter/digit/punct runs +
    contractions) — the LLM token-budget estimator; whitespace count
    is the `token_count` sibling."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_token_count("text").alias("n_bpe_tokens"))


@query(
    "winnowing_fingerprints",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    wordlists AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    grams AS (
      SELECT doc_id, i AS pos, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM wordlists)
    ),
    winmin AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
      FROM grams
    )
    SELECT DISTINCT doc_id, fp FROM winmin WHERE cnt = 4
    """,
)
def q_winnowing(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints: k=3 word-grams,
    window w=4, keep each window's min hash — position-robust content
    fingerprints with guaranteed match coverage, the plagiarism/
    near-dup detection primitive at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, k=3, w=4)


@query(
    "text_quality_features",
    f"""
    WITH t AS (SELECT doc_id, {_NORM} AS t FROM documents),
    feat AS (
      SELECT doc_id, t,
             length(t) AS n_chars,
             CASE WHEN length(t) = 0 THEN 0 ELSE len(string_split(t, ' ')) END AS n_tokens,
             len(regexp_extract_all(t, '[.,;:!?]')) AS punct,
             len(list_filter(string_split(t, ' '),
                 w -> w IN ('the','a','of','to','and','in','is','for','on','it'))) AS stop
      FROM t
    )
    SELECT doc_id, n_chars, n_tokens,
           round(CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN n_tokens > 0 THEN stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio,
           round(least(n_tokens / 200.0, 1.0) * 0.5
                 + least(CASE WHEN n_tokens > 0 THEN stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 5, 1.0) * 0.3
                 + (1 - least(CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END * 10, 1.0)) * 0.2,
                 6) AS quality_score
    FROM feat
    """,
)
def q_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs)


def _lang_votes_sql() -> str:
    """One vote column per LANG_STOPWORDS language, generated from the
    same constants the Spark side uses."""
    from commercial_rfp_data_pipeline_spark.operators.textops import LANG_STOPWORDS

    cols = []
    for lang, sw in LANG_STOPWORDS.items():
        inlist = ", ".join(f"'{s}'" for s in sw)
        cols.append(f"len(list_filter(w, x -> x IN ({inlist}))) AS votes_{lang}")
    return ",\n        ".join(cols)


def _lang_case_sql() -> str:
    """Priority-ordered argmax CASE chain mirroring lang_id's F.when
    chain: language i wins if its votes >= every later language's."""
    from commercial_rfp_data_pipeline_spark.operators.textops import LANG_STOPWORDS

    langs = list(LANG_STOPWORDS)
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"votes_{lang} >= votes_{later}" for later in langs[i + 1 :]
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


_LANG_CTE = f"""
lw AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
lvotes AS (
  SELECT doc_id,
        {_lang_votes_sql()}
  FROM lw
),
langs AS (SELECT doc_id, *, {_lang_case_sql()} AS lang_pred FROM lvotes)
"""


def _lang_vote_cols() -> str:
    from commercial_rfp_data_pipeline_spark.operators.textops import LANG_STOPWORDS

    return ", ".join(f"votes_{lang}" for lang in LANG_STOPWORDS)


@query(
    "lang_id_heuristic",
    f"""
    WITH {_LANG_CTE.strip()}
    SELECT doc_id, {_lang_vote_cols()}, lang_pred FROM langs
    """,
)
def q_lang_id(spark, sf_dir):
    """Stopword-vote language ID over 10 languages; both the vote
    columns and the priority-argmax are generated from LANG_STOPWORDS
    on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs)


@query(
    "doc_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM}) AS fp, substr(md5({_NORM}), 1, 16) AS fp16,
           length({_NORM}) AS n_chars
    FROM documents
    """,
)
def q_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs)


@query(
    "exact_dup_groups_by_fingerprint",
    f"""
    SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_doc
    FROM (SELECT doc_id, md5(substr({_NORM}, 1, 40)) AS fp FROM documents)
    GROUP BY fp HAVING count(*) > 1
    """,
)
def q_exact_dup_groups(spark, sf_dir):
    """Exact dedup at scale: hash-groupBy on a content fingerprint —
    one shuffle of (fp, doc_id) pairs, canonical survivor = min id.
    Fingerprints the 40-char normalized prefix so the synthetic corpus
    actually contains duplicate groups at every SF."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.substring(norm_text("text"), 1, 40))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    freq AS (SELECT sh AS fsh, count(*) AS df FROM sh GROUP BY sh),
    sh2 AS (SELECT doc_id, sh FROM sh JOIN freq ON sh = fsh WHERE df <= 100),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, common,
           round(common / CAST(na.n_sh + nb.n_sh - common AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE round(common / CAST(na.n_sh + nb.n_sh - common AS DOUBLE), 6) >= 0.2
    """,
)
def q_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs (threshold 0.2 keeps the
    result non-trivial on synthetic text). Serves from the durable
    `ensure_minhash_eval` truth table (round 10) — the same pair set
    the banding evaluations measure against; the oracle states the
    full postings derivation, so green verify proves artifact ==
    inline."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_minhash_eval,
    )

    _, truth = ensure_minhash_eval(spark, sf_dir)
    return truth.select("doc_a", "doc_b", "common", "jaccard")


@query(
    "minhash_lsh_candidates",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    hashed AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || ':' || sh) AS h
      FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s
    ),
    minh AS (SELECT doc_id, seed, min(h) AS mh FROM hashed GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '|' ORDER BY seed)) AS band_val
      FROM minh GROUP BY doc_id, seed // 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    """,
)
def q_minhash(spark, sf_dir):
    """MinHash(8 perms) + LSH(4 bands x 2) candidate pairs — the scale
    path for fuzzy dedup: cost is linear in shingles, candidates come
    from hash-bucket collisions, never an all-pairs scan. Signatures
    serve from the durable `ensure_minhash_eval` artifact (round 10);
    the oracle states the full shingle->minhash derivation."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        minhash_bands_of,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_minhash_eval,
    )

    sigs, _ = ensure_minhash_eval(spark, sf_dir)
    return minhash_candidate_pairs(minhash_bands_of(sigs))


@query(
    "minhash_jaccard_estimates",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    hashed AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || ':' || sh) AS h
      FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s
    ),
    minh AS (SELECT doc_id, seed, min(h) AS mh FROM hashed GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '|' ORDER BY seed)) AS band_val
      FROM minh GROUP BY doc_id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS INTEGER) AS n_agree,
           round(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 8.0, 6) AS est_jaccard
    FROM cand c
    JOIN minh a ON a.doc_id = c.doc_a
    JOIN minh b ON b.doc_id = c.doc_b AND b.seed = a.seed
    GROUP BY c.doc_a, c.doc_b
    """,
)
def q_minhash_estimates(spark, sf_dir):
    """MinHash Jaccard estimator over the LSH candidate pairs:
    est = agreeing seeds / 8 — the thresholding quantity a dedup
    service uses without re-touching shingle sets. Signatures serve
    from the durable `ensure_minhash_eval` artifact (round 10)."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        minhash_jaccard_estimates_of,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_minhash_eval,
    )

    sigs, _ = ensure_minhash_eval(spark, sf_dir)
    return minhash_jaccard_estimates_of(sigs)


# bit b of a token's md5 = bit (3 - b%4) of hex digit b//4 (MSB-first
# binary expansion of the digest, first 64 bits) — mirrored from
# operators.textops._HEX_WITH_BIT
_BIT_TEST = """
CASE CAST(bit % 4 AS INTEGER)
  WHEN 0 THEN substr(h, CAST(bit // 4 + 1 AS INTEGER), 1) IN ('8','9','a','b','c','d','e','f')
  WHEN 1 THEN substr(h, CAST(bit // 4 + 1 AS INTEGER), 1) IN ('4','5','6','7','c','d','e','f')
  WHEN 2 THEN substr(h, CAST(bit // 4 + 1 AS INTEGER), 1) IN ('2','3','6','7','a','b','e','f')
  ELSE substr(h, CAST(bit // 4 + 1 AS INTEGER), 1) IN ('1','3','5','7','9','b','d','f')
END
"""

_SIMHASH_CTE = f"""
toks AS (
  SELECT DISTINCT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM documents
),
bits AS (
  SELECT doc_id, md5(w) AS h, unnest(generate_series(0, 63)) AS bit FROM toks
),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN {_BIT_TEST.strip()} THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, bit
),
sh AS (
  SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
  FROM votes GROUP BY doc_id
)
"""


@query(
    "simhash_fingerprints",
    f"""
    WITH {_SIMHASH_CTE.strip()}
    SELECT doc_id, simhash FROM sh
    """,
)
def q_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs)


@query(
    "simhash_neardup_pairs",
    f"""
    WITH {_SIMHASH_CTE.strip()},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_filter(generate_series(1, 64),
                 i -> substr(a.simhash, CAST(i AS INTEGER), 1)
                   <> substr(b.simhash, CAST(i AS INTEGER), 1))) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
    FROM pairs WHERE hamming <= 3
    """,
)
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at Hamming <= 3 of 64 bits via 4x16-bit
    band LSH. The banding is EXHAUSTIVE for distance <= bands-1
    (pigeonhole), so the oracle is the naive all-pairs scan and the
    results must match exactly — the candidate-pruning trick is itself
    what's verified."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(simhash(docs))


_PAIRS_SQL = """
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_filter(generate_series(1, 64),
        i -> substr(a.simhash, CAST(i AS INTEGER), 1)
          <> substr(b.simhash, CAST(i AS INTEGER), 1))) <= 3
)
"""


@query(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE {_SIMHASH_CTE.strip()},
    {_PAIRS_SQL.strip()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    """,
)
def q_dup_clusters(spark, sf_dir):
    """Duplicate-cluster formation over the SimHash near-dup pairs:
    connected components by iterative hash-min propagation (Spark) vs
    a recursive-CTE reachability closure (DuckDB). cluster_id = min
    doc_id of the component; singletons keep their own id — the
    pick-one-survivor-per-cluster step of a dedup pipeline.

    Round 10: serves the cluster map from the durable dedup-cluster
    index like `dedup_survivors` does (the inline chain re-ran the
    SimHash -> banded pairs -> CC fixpoint per consumer — 8.7 s of the
    certified bench). The stored clusters equal the fresh chain by the
    index's append==rebuild invariant, and the recursive-CTE oracle
    here re-proves it end-to-end on every verify; the fresh pair chain
    itself stays bench-exercised by `simhash_neardup_pairs` and the
    index ensure/append tests."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        dedup_clusters_table,
    )

    wh = dedup_index_for(spark, sf_dir)
    return dedup_clusters_table(spark, wh).select("doc_id", "cluster_id")


# quality_score fragment shared with text_quality_features — the
# survivor-selection metric
_QUALITY_CTE = f"""
qfeat AS (
  SELECT doc_id,
         length(t) AS n_chars,
         CASE WHEN length(t) = 0 THEN 0 ELSE len(string_split(t, ' ')) END AS n_tokens,
         len(regexp_extract_all(t, '[.,;:!?]')) AS punct,
         len(list_filter(string_split(t, ' '),
             w -> w IN ('the','a','of','to','and','in','is','for','on','it'))) AS stop
  FROM (SELECT doc_id, {_NORM} AS t FROM documents)
),
qual AS (
  SELECT doc_id,
         round(least(n_tokens / 200.0, 1.0) * 0.5
               + least(CASE WHEN n_tokens > 0 THEN stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 5, 1.0) * 0.3
               + (1 - least(CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END * 10, 1.0)) * 0.2,
               6) AS quality_score
  FROM qfeat
)
"""


@query(
    "dedup_survivors",
    f"""
    WITH RECURSIVE {_SIMHASH_CTE.strip()},
    {_PAIRS_SQL.strip()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    {_QUALITY_CTE.strip()},
    member AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score
      FROM clusters c JOIN qual q USING (doc_id)
    ),
    sizes AS (SELECT cluster_id, count(*) AS n_members FROM member GROUP BY cluster_id)
    SELECT m.cluster_id, m.doc_id, m.quality_score, s.n_members
    FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
            ORDER BY quality_score DESC, doc_id) AS rn FROM member) m
    JOIN sizes s USING (cluster_id)
    WHERE m.rn = 1
    """,
)
def q_dedup_survivors(spark, sf_dir):
    """The END-TO-END dedup pipeline a training-data run actually
    executes: simhash near-dup pairs -> connected-component clusters ->
    quality-argmax survivor per cluster. The surviving doc_id set is
    the deduplicated corpus (singleton clusters keep their only
    member); n_members reports how many duplicates each survivor
    absorbed. Every stage is individually oracle-checked by its own
    query; this one checks the composition.

    Round 8: serves from the DURABLE dedup-cluster index
    (plans/dedup_index.py — content-keyed, built once per corpus,
    incrementally appendable) instead of re-running the SimHash -> CC
    chain per consumer; the stored clusters equal the fresh chain by
    the append==rebuild invariant, so the oracle is unchanged. The
    fresh chain itself stays exercised by simhash_neardup_pairs and by
    the index's own ensure/append tests (dedup_connected_components
    serves from the index too as of round 10)."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        dedup_survivors_from_index,
    )

    wh = dedup_index_for(spark, sf_dir)
    return dedup_survivors_from_index(spark, wh)


@query(
    "token_shard_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(floor(tokens_before / 2000.0) AS INTEGER) AS shard_id
    FROM c
    """,
)
def q_token_shards(spark, sf_dir):
    """Fixed-token-budget shard assignment via a DISTRIBUTED prefix sum
    (per-partition cumsum + broadcast offsets — no corpus-wide
    single-partition window). The oracle states the naive global
    cumulative window; results match exactly."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        assign_token_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    return assign_token_shards(docs, shard_tokens=2000)


@query(
    "training_mix_stratified_sample",
    f"""
    WITH {_LANG_CTE.strip()}
    SELECT doc_id, lang_pred FROM (
      SELECT doc_id, lang_pred,
             row_number() OVER (PARTITION BY lang_pred
               ORDER BY md5('mix' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM langs
    ) WHERE rn <= 20
    """,
)
def q_training_mix(spark, sf_dir):
    """Data-mixing primitive: a deterministic hash-ranked sample of 20
    docs per predicted language — equal-representation sampling whose
    survivors are reproducible (and therefore oracle-checked) rather
    than rand()-dependent."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        lang_id,
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    langs = lang_id(docs).select("doc_id", "lang_pred")
    return stratified_sample(langs, ["lang_pred"], n_per_stratum=20)


@query(
    "span_dedup_c4",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    wl AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm
           WHERE t IS NOT NULL AND length(t) > 0),
    spans AS (
      SELECT doc_id, i AS idx,
             array_to_string(list_slice(w, i*10+1, i*10+10), ' ') AS span
      FROM (SELECT doc_id, w,
                   unnest(generate_series(0, CAST(ceil(len(w)/10.0) AS INT) - 1)) AS i
            FROM wl)
      WHERE length(trim(array_to_string(list_slice(w, i*10+1, i*10+10), ' '))) > 0
    ),
    ranked AS (
      SELECT doc_id, idx, span,
             count(*) OVER (PARTITION BY span) AS freq,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
      FROM spans
    ),
    kept AS (SELECT doc_id, idx, span FROM ranked WHERE freq = 1 OR rn = 1),
    rebuilt AS (
      SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS text_dedup,
             count(*) AS n_spans_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           coalesce(t.n_spans, 0) AS n_spans,
           coalesce(r.n_spans_kept, 0) AS n_spans_kept
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def q_span_dedup(spark, sf_dir):
    """C4-style span-level corpus dedup (keep the globally-first copy
    of every repeated 10-word span, rewrite every document from its
    surviving spans). The oracle restates the keep-first rule with a
    window; the engine's groupBy(min(struct)) form is the scale-safe
    equivalent (map-side combine, no hot reducer on boilerplate)."""
    from commercial_rfp_data_pipeline_spark.operators.textops import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = span_dedup(docs, span_len=10)
    return out.select(
        "doc_id",
        "text_dedup",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_spans_kept").cast("long").alias("n_spans_kept"),
    )


@query(
    "corpus_statistics",
    f"""
    WITH norm AS (SELECT doc_id, lang, source, {_NORM} AS t FROM documents),
    base AS (
      SELECT doc_id, lang, source,
             length(t) AS n_chars,
             CASE WHEN length(t) = 0 THEN 0 ELSE len(string_split(t, ' ')) END AS n_tokens,
             md5(t) AS fp
      FROM norm
    ),
    dup AS (SELECT fp, count(*) AS c FROM base GROUP BY fp)
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs
    FROM base JOIN dup USING (fp)
    GROUP BY lang
    """,
)
def q_corpus_statistics(spark, sf_dir):
    """Dataset-card statistics per language: doc/source counts, token
    totals, mean length, and how many docs are exact duplicates of
    something else — the summary a corpus release publishes. One narrow
    map + one fp groupBy + one lang groupBy; every aggregate has
    map-side partial combine."""
    docs = load_table(spark, sf_dir, "documents")
    t = norm_text("text")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.length(t).alias("n_chars"),
        token_count("text").alias("n_tokens"),
        F.md5(t).alias("fp"),
    )
    dup = base.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    return (
        base.join(dup, "fp")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_exact_dup_docs"),
        )
    )


@query(
    "pmi_collocations_top20",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    wl AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm WHERE length(t) > 0),
    uni AS (
      SELECT w[i] AS tok
      FROM (SELECT w, unnest(generate_series(1, len(w))) AS i FROM wl)
    ),
    ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    bi AS (
      SELECT w[i] AS tok_a, w[i+1] AS tok_b
      FROM (SELECT w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i FROM wl)
    ),
    bcnt AS (SELECT tok_a, tok_b, count(*) AS cab FROM bi GROUP BY tok_a, tok_b),
    tot AS (SELECT (SELECT sum(c) FROM ucnt) AS n_uni,
                   (SELECT sum(cab) FROM bcnt) AS n_bi)
    SELECT tok_a, tok_b, cab,
           round(ln((cab / CAST(n_bi AS DOUBLE))
                    / ((ca / CAST(n_uni AS DOUBLE)) * (cb / CAST(n_uni AS DOUBLE)))), 6) AS pmi
    FROM (
      SELECT b.tok_a, b.tok_b, b.cab, a.c AS ca, c2.c AS cb
      FROM bcnt b JOIN ucnt a ON b.tok_a = a.tok
                  JOIN ucnt c2 ON b.tok_b = c2.tok
      WHERE b.cab >= 5
    ) CROSS JOIN tot
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT 20
    """,
)
def q_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocations: top-20 adjacent-word
    pairs whose co-occurrence beats independence — the phrase-mining /
    tokenizer-merge-candidate primitive. Two groupBys (unigrams,
    bigrams) with map-side combine, two joins of the bigram table to
    the unigram counts (AQE broadcasts while small), totals ride a
    broadcast one-row aggregate, top-20 via TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    wl = docs.select("doc_id", words("text").alias("w")).filter(
        F.size("w") > 0
    )
    uni = wl.select(F.explode("w").alias("tok")).filter(F.length("tok") > 0)
    ucnt = pin(uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    from pyspark.sql import Window as W

    # bigrams via the same window-lead pattern shingles uses
    win = W.partitionBy("doc_id").orderBy("i")
    toks = wl.select("doc_id", F.posexplode("w").alias("i", "tok"))
    bi = (
        toks.withColumn("tok_b", F.lead("tok").over(win))
        .filter(F.col("tok_b").isNotNull())
        .select(F.col("tok").alias("tok_a"), "tok_b")
    )
    bcnt = pin(
        bi.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("cab"))
    )
    tot = ucnt.agg(F.sum("c").alias("n_uni")).crossJoin(
        bcnt.agg(F.sum("cab").alias("n_bi"))
    )
    a = ucnt.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    b = ucnt.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    return (
        bcnt.filter(F.col("cab") >= 5)
        .join(a, "tok_a")
        .join(b, "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "cab",
            F.round(
                F.log(
                    (F.col("cab") / F.col("n_bi"))
                    / (
                        (F.col("ca") / F.col("n_uni"))
                        * (F.col("cb") / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
        .limit(20)
    )


@query(
    "bpe_merge_candidates",
    f"""
    WITH wl AS (SELECT string_split({_NORM}, ' ') AS w FROM documents),
    wf AS (
      SELECT word, count(*) AS wn
      FROM (SELECT unnest(w) AS word FROM wl)
      WHERE length(word) >= 2
      GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, wn
      FROM (SELECT word, wn,
                   unnest(generate_series(1, length(word) - 1)) AS i
            FROM wf)
    ),
    pc AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM pairs GROUP BY pair)
    SELECT pair, n, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rnk
      FROM pc
    ) WHERE rnk <= 20
    """,
)
def q_bpe_merge_candidates(spark, sf_dir):
    """The FIRST step of training a BPE tokenizer at corpus scale: the
    top-20 adjacent symbol pairs by total corpus frequency (each word's
    internal character bigrams weighted by the word's occurrence
    count) — the pair a trainer would merge first. Iterating this
    (merge, re-count) yields the full merge table; one step keeps the
    query oracle-checkable while exercising the exact distributed
    shape every iteration uses.

    Scale: word counting is one (word) groupBy with map-side combine
    over the UNIQUE-WORD table (not the corpus — bigram expansion
    happens after frequency aggregation, so a word repeated a million
    times explodes once); pair counting is a second small groupBy;
    top-20 is orderBy().limit(20) — TakeOrderedAndProject — with the
    rank window attached over the 20 surviving rows."""
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(words("text")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), "
                   "i -> substring(word, i, 2))")
        ).alias("pair"),
        "wn",
    )
    pc = pairs.groupBy("pair").agg(F.sum("wn").alias("n"))
    # limit-first: TakeOrderedAndProject (per-partition heaps) even
    # though the bigram domain is charset-bounded — the rank window
    # then runs over the 20 surviving rows only
    w = Window.orderBy(F.col("n").desc(), "pair")
    return (
        pc.orderBy(F.col("n").desc(), "pair")
        .limit(20)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .select("pair", "n", "rnk")
    )


from commercial_rfp_data_pipeline_spark.operators.sampling import (
    negatives_oracle_sql,
)


@query("contrastive_negative_samples", negatives_oracle_sql(k=3))
def q_contrastive_negatives(spark, sf_dir):
    """Three deterministic hash-ring negatives per document for
    contrastive embedding training (operators/sampling.py). Oracle
    registered via the module's generator below."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import (
        contrastive_negatives,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contrastive_negatives(docs, id_col="doc_id", k=3)


from commercial_rfp_data_pipeline_spark.operators.textops import (
    bpe_encode_oracle_sql,
    bpe_train,
    bpe_train_oracle_sql,
)


@query("bpe_train_merges", bpe_train_oracle_sql(_NORM, n_merges=3))
def q_bpe_train(spark, sf_dir):
    """The first 3 trained BPE merges over the corpus (see
    operators/textops.py:bpe_train) — distributed pair counting,
    driver-side argmax (trainer state), regex-fixpoint re-segmentation
    per round, all value-checked against the unrolled-CTE oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=3)


@query(
    "boilerplate_span_strip",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    wl AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm
           WHERE t IS NOT NULL AND length(t) > 0),
    spans AS (
      SELECT doc_id, i AS idx,
             array_to_string(list_slice(w, i*5+1, i*5+5), ' ') AS span
      FROM (SELECT doc_id, w,
                   unnest(generate_series(0, CAST(ceil(len(w)/5.0) AS INT) - 1)) AS i
            FROM wl)
      WHERE length(trim(array_to_string(list_slice(w, i*5+1, i*5+5), ' '))) > 0
    ),
    common AS (
      SELECT span FROM spans GROUP BY span
      HAVING count(DISTINCT doc_id) >= 3
    ),
    kept AS (
      SELECT doc_id, idx, span FROM spans
      WHERE span NOT IN (SELECT span FROM common)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS text_clean,
             count(*) AS n_spans_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(r.text_clean, '') AS text_clean,
           coalesce(t.n_spans, 0) AS n_spans,
           coalesce(r.n_spans_kept, 0) AS n_spans_kept
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def q_boilerplate_strip(spark, sf_dir):
    """Cross-document boilerplate removal: every 5-word span present in
    >= 3 distinct documents is stripped from ALL documents (no survivor
    — this is the remove-everywhere complement of `span_dedup_c4`'s
    keep-first). The oracle restates the document-frequency rule with a
    HAVING + NOT IN; the engine's groupBy(countDistinct) + anti-join is
    the scale-safe equivalent."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        boilerplate_strip,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = boilerplate_strip(docs, span_len=5, min_df=3)
    return out.select(
        "doc_id",
        "text_clean",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_spans_kept").cast("long").alias("n_spans_kept"),
    )


@query(
    "cms_heavy_hitters",
    f"""
    WITH norm AS (SELECT {_NORM} AS t FROM documents),
    wrds AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm
      WHERE t IS NOT NULL AND length(t) > 0
    ),
    tok AS (SELECT w FROM wrds WHERE length(w) > 0),
    cnt AS (SELECT w, count(*) AS exact_n FROM tok GROUP BY w),
    top AS (SELECT w, exact_n FROM cnt ORDER BY exact_n DESC, w LIMIT 20),
    seeds AS (SELECT unnest(['cms0','cms1','cms2','cms3']) AS j),
    counters AS (
      SELECT j, substr(md5(j || ':' || w), 1, 2) AS col, count(*) AS n
      FROM tok CROSS JOIN seeds GROUP BY j, substr(md5(j || ':' || w), 1, 2)
    ),
    probes AS (
      SELECT w, exact_n, j, substr(md5(j || ':' || w), 1, 2) AS col
      FROM top CROSS JOIN seeds
    )
    SELECT w AS word, exact_n, min(n) AS cms_estimate
    FROM probes JOIN counters USING (j, col)
    GROUP BY w, exact_n
    """,
)
def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch frequency estimation (Cormode & Muthukrishnan
    2005) with deterministic md5 hashing: build a d=4 x w=256 counter
    table over all corpus tokens, then point-query it for the exact
    top-20 tokens and report sketch vs exact counts (CMS guarantees
    estimate >= exact; the overshoot is the collision tax).

    Scale: the sketch build is ONE groupBy of at most 1024 (row,
    column) groups with map-side combine — the 100-TB answer to "token
    frequencies without shuffling the full vocabulary"; lookups
    broadcast the tiny counter table. The exact top-20 rides along as
    the comparison baseline (TakeOrderedAndProject, no global sort)."""
    from commercial_rfp_data_pipeline_spark.operators.sketch import (
        cms_counters,
        cms_lookup,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import words

    docs = load_table(spark, sf_dir, "documents")
    tok = pin(
        docs.select(F.explode(words("text")).alias("w")).filter(
            F.length("w") > 0
        )
    )
    exact = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), "w").limit(20)
    counters = cms_counters(tok, "w")
    est = cms_lookup(counters, top, "w")
    return (
        top.join(est, "w")
        .select(
            F.col("w").alias("word"),
            "exact_n",
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
        )
    )


@query(
    "tfidf_cosine_pairs",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    toks AS (
      SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm
      WHERE t IS NOT NULL AND length(t) > 0
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE length(tok) > 0 GROUP BY doc_id, tok
    ),
    dfq AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY tok
      HAVING count(*) <= 100
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    wt AS (
      SELECT doc_id, tok,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS wt
      FROM tf JOIN dfq USING (tok) CROSS JOIN nd
    ),
    nrm AS (
      SELECT doc_id, round(sqrt(sum(wt * wt)), 6) AS nrm
      FROM wt GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(sum(a.wt * b.wt), 6) AS dot
      FROM wt a JOIN wt b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, round(dot / (x.nrm * y.nrm), 6) AS cosine
    FROM dots
    JOIN nrm x ON doc_a = x.doc_id
    JOIN nrm y ON doc_b = y.doc_id
    WHERE round(dot / (x.nrm * y.nrm), 6) >= 0.5
    """,
)
def q_tfidf_cosine_pairs(spark, sf_dir):
    """Tf-idf cosine similarity pairs over the corpus via inverted-
    index sparse dot products (df-capped vocabulary, ln(N/df) idf,
    6-dp rounded trajectory). The oracle's term self-join is the
    quadratic restatement; the engine's array-combinations-over-
    postings form is the bounded-fanout scale path."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        tfidf_cosine_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, threshold=0.5, max_doc_freq=100)


@query(
    "temperature_mix_resample",
    """
    WITH sizes AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
    sized AS (
      SELECT lang, n_g,
             CAST(round(sqrt(CAST(n_g AS DOUBLE)), 6) AS DECIMAL(20,6)) AS w
      FROM sizes
    ),
    tot AS (SELECT sum(w) AS w_tot FROM sized),
    targets AS (
      SELECT lang, n_g,
             least(CAST(floor(200.0 * CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE)) AS BIGINT),
                   n_g) AS n_take
      FROM sized CROSS JOIN tot
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, t.n_take,
             row_number() OVER (PARTITION BY d.lang
               ORDER BY md5('tmix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      FROM documents d JOIN targets t USING (lang)
    )
    SELECT doc_id, lang, n_take FROM ranked WHERE rn <= n_take
    """,
)
def q_temperature_mix(spark, sf_dir):
    """Temperature-2 mixture over the skewed language distribution: a
    200-doc budget splits by sqrt-of-count shares, upweighting
    low-resource languages vs proportional sampling; survivors are
    md5-ranked, so the exact sample is value-hash-checked."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import (
        temperature_mix,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(docs, "lang", budget=200, temperature=2.0).select(
        "doc_id", "lang", "n_take"
    )


# ---- per-source data-recipe rebalancing (DoReMi-style) ------------
# Integer-exact allocation: budget B = (6 * total_tokens) div 5 (>100%
# of supply, so high-weight sources repeat — the epochs-per-source
# move), per-source weight w = 1 + (source index mod 4), allocation
# B_s = (B * w_s) div sum(w), realized as (B_s div T_s) full epochs +
# an md5-rank token-prefix for the remainder. All div/mod — no float
# sampling rates, so both engines realize the identical mix.
_RECIPE_CTES = f"""
    d AS (
      SELECT doc_id, source,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tok,
             1 + (CAST(substring(source, 4) AS BIGINT) % 4) AS w
      FROM documents
    ),
    tot AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS t, max(w) AS w
            FROM d GROUP BY source),
    grand AS (SELECT CAST(sum(t) AS BIGINT) AS tt,
                     CAST(sum(w) AS BIGINT) AS wt FROM tot),
    plan AS (
      SELECT source, t, (((6 * tt) // 5) * w) // wt AS b
      FROM tot CROSS JOIN grand
    ),
    ranked AS (
      SELECT doc_id, source, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
               PARTITION BY source
               ORDER BY md5('recipe:' || CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS bef
      FROM d
    ),
    cop AS (
      SELECT r.doc_id, r.source, r.n_tok,
             CAST((p.b // p.t)
                  + CASE WHEN r.bef < (p.b % p.t) THEN 1 ELSE 0 END
               AS INTEGER) AS n_copies,
             p.b AS target_tokens
      FROM ranked r JOIN plan p USING (source)
    )
"""


def _recipe_weight():
    return 1 + (F.substring("source", 4, 8).cast("long") % 4)


@query(
    "data_recipe_rebalance",
    f"""
    WITH {_RECIPE_CTES.strip()}
    SELECT doc_id, source, n_tok, n_copies, target_tokens
    FROM cop WHERE n_copies >= 1
    """,
)
def q_data_recipe_rebalance(spark, sf_dir):
    """DoReMi-style per-source recipe rebalancing at the document
    level: every kept doc carries its repetition count (n_copies —
    full epochs for over-allocated sources plus the md5-prefix partial
    epoch). The engine's prefix sums run DISTRIBUTED
    (distributed_prefix_sum over (source, md5, id) order); the oracle
    states the same take as a naive per-source cumulative window."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import (
        recipe_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents")
    return recipe_rebalance(docs, weight_raw=_recipe_weight())


@query(
    "data_recipe_share_audit",
    f"""
    WITH {_RECIPE_CTES.strip()},
    reald AS (
      SELECT source, CAST(sum(n_copies * n_tok) AS BIGINT) AS realized_tokens
      FROM cop GROUP BY source
    )
    SELECT p.source, p.t AS avail_tokens, p.b AS target_tokens,
           p.b // p.t AS epochs, realized_tokens,
           round(CAST(p.b AS DOUBLE)
                 / (SELECT CAST(sum(b) AS DOUBLE) FROM plan), 6)
             AS target_share,
           round(CAST(realized_tokens AS DOUBLE)
                 / (SELECT CAST(sum(realized_tokens) AS DOUBLE) FROM reald),
                 6) AS realized_share,
           abs(CAST(p.b AS DOUBLE)
                 / (SELECT CAST(sum(b) AS DOUBLE) FROM plan)
               - CAST(realized_tokens AS DOUBLE)
                 / (SELECT CAST(sum(realized_tokens) AS DOUBLE) FROM reald))
             <= 0.02 AS within_tol
    FROM plan p JOIN reald USING (source)
    """,
)
def q_data_recipe_share_audit(spark, sf_dir):
    """The rebalancing acceptance check: per source, the realized token
    share (epochs + partial prefix actually emitted) against the target
    share, with a 2%-of-mix tolerance verdict — the granularity bound
    is one document's tokens per source, far inside the tolerance. This
    is the query a data-recipe change ships with."""
    from commercial_rfp_data_pipeline_spark.operators.sampling import (
        recipe_rebalance,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import token_count

    docs = load_table(spark, sf_dir, "documents")
    reb = recipe_rebalance(docs, weight_raw=_recipe_weight())
    real = reb.groupBy("source").agg(
        F.sum(F.col("n_copies").cast("long") * F.col("n_tok"))
        .cast("long")
        .alias("realized_tokens"),
        F.max("target_tokens").alias("target_tokens"),
    )
    avail = (
        docs.select("source", token_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("avail_tokens"))
    )
    grand = real.agg(
        F.sum("realized_tokens").cast("double").alias("_rt"),
        F.sum("target_tokens").cast("double").alias("_bt"),
    )
    j = real.join(avail, "source").crossJoin(F.broadcast(grand))
    t_share = F.col("target_tokens").cast("double") / F.col("_bt")
    r_share = F.col("realized_tokens").cast("double") / F.col("_rt")
    return j.select(
        "source",
        "avail_tokens",
        "target_tokens",
        F.expr("target_tokens div avail_tokens").alias("epochs"),
        "realized_tokens",
        F.round(t_share, 6).alias("target_share"),
        F.round(r_share, 6).alias("realized_share"),
        (F.abs(t_share - r_share) <= 0.02).alias("within_tol"),
    )


@query(
    "containment_pairs_quote_detect",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    freq AS (SELECT sh AS fsh, count(*) AS df FROM sh GROUP BY sh),
    sh2 AS (SELECT doc_id, sh FROM sh JOIN freq ON sh = fsh WHERE df <= 100),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, common,
           round(common / CAST(na.n_sh + nb.n_sh - common AS DOUBLE), 6) AS jaccard,
           round(common / CAST(least(na.n_sh, nb.n_sh) AS DOUBLE), 6) AS containment
    FROM common
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE round(common / CAST(least(na.n_sh, nb.n_sh) AS DOUBLE), 6) >= 0.15
    """,
)
def q_containment(spark, sf_dir):
    """Asymmetric containment pairs (C = common/min set size): the
    quote/subset detector — a short doc embedded in a long one scores
    high containment but low Jaccard. Threshold 0.15 keeps the result
    non-trivial on near-orthogonal synthetic text; the construction
    (postings lists, df cap, pair-keyed groupBy) is jaccard_pairs'
    exactly.

    Round 11 (VERDICT r10 #5): the shingle stream comes from the
    durable token index (the same k=3 word shingles
    `jaccard_prefix_filter_pairs` reads) instead of re-exploding the
    corpus per run — jaccard_pairs' collect_set postings are
    SET-semantics, so the distinct posting rows produce identical
    pairs while shrinking the groupBy input ~4x. Warm vs inline cost
    is published under the SPARK_GRAFT_ARTIFACTS contract."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        containment_pairs,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_token_index,
    )

    toks, _, _ = ensure_token_index(spark, sf_dir, k=3)
    return containment_pairs(
        toks.select("doc_id", F.col("tok").alias("sh")),
        threshold=0.15,
        max_doc_freq=100,
    )


@query(
    "trigram_index_substring_search",
    f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_NORM} LIKE '%batch value%'
    """,
)
def q_trigram_search(spark, sf_dir):
    """Substring search through the trigram inverted index: AND-
    intersect posting lists for the pattern's character 3-grams, then
    LIKE-verify candidates only. No false negatives, so the result is
    exactly the full-scan LIKE the oracle states — at corpus scale the
    index probe replaces the scan."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        trigram_substring_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return trigram_substring_search(docs, "batch value").select(
        "doc_id", "lang", "n_chars"
    )


@query("bpe_encode_corpus", bpe_encode_oracle_sql(_NORM, n_merges=3))
def q_bpe_encode(spark, sf_dir):
    """The tokenizer's SERVING half: apply the 3 trained BPE merges to
    the corpus and count post-merge tokens per document. The
    segmentation fixpoint runs once per UNIQUE word
    (operators/textops.py:bpe_encode_words); the corpus encode is one
    equi-join of the exploded token stream to that table plus a
    per-doc aggregate — occurrences never re-segment. Value-checked
    end to end: the oracle re-derives the same merges and the same
    per-word segmentations in unrolled CTEs."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        bpe_encode_words,
        words,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = bpe_encode_words(docs, n_merges=3).select("word", "n_tokens")
    dw = docs.select(
        "doc_id", F.explode(words("text")).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]{2,}$"))
    return (
        dw.join(tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
        )
    )


@query(
    "minhash_band_eval",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    freq AS (SELECT sh AS fsh, count(*) AS df FROM sh GROUP BY sh),
    sh2 AS (SELECT doc_id, sh FROM sh JOIN freq ON sh = fsh WHERE df <= 100),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT doc_a, doc_b FROM common
      JOIN counts na ON na.doc_id = doc_a
      JOIN counts nb ON nb.doc_id = doc_b
      WHERE round(common / CAST(na.n_sh + nb.n_sh - common AS DOUBLE), 6) >= 0.2
    ),
    hashed AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || ':' || sh) AS h
      FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s
    ),
    minh AS (SELECT doc_id, seed, min(h) AS mh FROM hashed GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '|' ORDER BY seed)) AS band_val
      FROM minh GROUP BY doc_id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    tp AS (SELECT count(*) AS n FROM cand JOIN truth USING (doc_a, doc_b)),
    nc AS (SELECT count(*) AS n FROM cand),
    nt AS (SELECT count(*) AS n FROM truth)
    SELECT nc.n AS n_candidates, nt.n AS n_true, tp.n AS n_tp,
           round(tp.n / CAST(nc.n AS DOUBLE), 6) AS precision,
           round(tp.n / CAST(nt.n AS DOUBLE), 6) AS recall
    FROM nc, nt, tp
    """,
)
def q_minhash_band_eval(spark, sf_dir):
    """Candidate-generation EVALUATION: precision/recall of the
    MinHash(8)x(4 bands) candidate pairs against ground-truth 3-gram
    Jaccard >= 0.2 (the same df-capped truth `ngram_jaccard_pairs`
    emits) — the measurement a dedup pipeline runs before trusting a
    banding config at corpus scale, where exact Jaccard on all pairs is
    unaffordable but a sampled audit is mandatory. One candidate⨝truth
    semi-count; all three counts exact integers, ratios exact-rounded.

    Scale: both pair sets are the bounded candidate streams their own
    queries bound (postings df-cap / band-bucket fanout); the eval adds
    one equi-join on the pair key and three one-row aggregates.
    Signatures and ground truth serve from the durable
    `ensure_minhash_eval` artifact (round 10) — the tables a dedup
    pipeline materializes once per corpus; the oracle still states the
    full shingle->minhash derivation, so green verify proves
    artifact == inline."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        minhash_bands_of,
        minhash_candidate_pairs,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_minhash_eval,
    )

    sigs, truth_full = ensure_minhash_eval(spark, sf_dir)
    truth = truth_full.select("doc_a", "doc_b")
    cand = minhash_candidate_pairs(minhash_bands_of(sigs))
    tp = cand.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    return (
        nc.crossJoin(nt)
        .crossJoin(tp)
        .select(
            "n_candidates",
            "n_true",
            "n_tp",
            F.round(F.col("n_tp") / F.col("n_candidates"), 6).alias(
                "precision"
            ),
            F.round(F.col("n_tp") / F.col("n_true"), 6).alias("recall"),
        )
    )


@query(
    "unicode_nfc_normalize",
    """
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN text || ' caf' || chr(101) || chr(769)
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id, nfc_normalize(t) AS text_nfc,
           nfc_normalize(t) <> t AS changed,
           CAST(length(t) AS INTEGER) AS n_cp_before,
           CAST(length(nfc_normalize(t)) AS INTEGER) AS n_cp_after
    FROM injected
    """,
)
def q_unicode_nfc(spark, sf_dir):
    """Encoding hygiene before fingerprinting: NFC-normalize the
    corpus (every 4th doc gets a deterministic decomposed
    e+COMBINING-ACUTE suffix injected so the pass has real work), via
    the Arrow-batched unicodedata seam — value-checked against
    DuckDB's nfc_normalize, two independent implementations of the
    same Unicode canonicalization. Run this BEFORE doc_fingerprint /
    exact dedup: composed and decomposed forms of the same text hash
    differently."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        nfc_normalize,
    )

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" caf"), F.lit("e\u0301")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return nfc_normalize(injected)


@query(
    "corpus_composition_report",
    f"""
    WITH base AS (
      SELECT source, lang,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    ),
    cells AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM base GROUP BY source, lang
    ),
    tot AS (SELECT sum(n_tokens) AS all_tokens FROM cells)
    SELECT c.source, c.lang, c.n_docs, c.n_tokens,
           round(c.n_tokens / CAST(t.all_tokens AS DOUBLE), 6)
             AS token_share
    FROM cells c CROSS JOIN tot t
    """,
)
def q_corpus_composition(spark, sf_dir):
    """The dataset-card composition table: documents and tokens per
    (source, lang) cell with each cell's share of the total token
    budget — what every corpus release publishes and what the mixing
    operators (stratified_sample, temperature_mix) take as their
    input distribution. One groupBy over the tiny cell key; the total
    rides a broadcast one-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", "lang", token_count("text").alias("n_tokens")
    )
    cells = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    tot = cells.agg(F.sum("n_tokens").alias("all_tokens"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.col("all_tokens").cast("double"), 6
        ).alias("token_share"),
    )


# zero-width space / non-joiner / joiner / BOM (word-joiner form) /
# soft hyphen — the invisible code points that survive copy-paste and
# poison tokenizers. Built via chr() so the source file stays ASCII.
_INVIS = "".join(chr(c) for c in (0x200B, 0x200C, 0x200D, 0xFEFF, 0x00AD))


@query(
    "invisible_char_strip",
    f"""
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN chr(65279) || substr(text, 1, 40) || chr(8203)
                       || substr(text, 41) || chr(173)
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(t, '[{_INVIS}]', '', 'g') AS text_clean,
           CAST(length(t) - length(regexp_replace(t, '[{_INVIS}]', '', 'g'))
                AS INTEGER) AS n_stripped,
           length(t) <> length(regexp_replace(t, '[{_INVIS}]', '', 'g'))
             AS was_dirty
    FROM injected
    """,
)
def q_invisible_strip(spark, sf_dir):
    """Strip invisible code points (zero-width space/joiner/non-joiner,
    BOM, soft hyphen) — the copy-paste artifacts that split tokens and
    break exact dedup while rendering identically. One narrow regexp
    map; per-doc strip counts are emitted so a pipeline can alert on
    dirty sources. A third of the docs get the characters injected so
    the strip is exercised for real in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("﻿"),
                F.substring("text", 1, 40),
                F.lit("​"),
                F.expr("substring(text, 41)"),
                F.lit("­"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    cleaned = F.regexp_replace("t", f"[{_INVIS}]", "")
    return injected.select(
        "doc_id",
        cleaned.alias("text_clean"),
        (F.length("t") - F.length(cleaned)).cast("int").alias("n_stripped"),
        (F.length("t") != F.length(cleaned)).alias("was_dirty"),
    )


# ColBERT-style late interaction: per-token embeddings (8 centered md5
# bytes — the deterministic stand-in for real token vectors, swappable
# via the embedder seam), MaxSim per query token over candidate-doc
# tokens, decimal-summed so the score is partition-order-free
_LI_DIM = 8
_LI_DF_FRAC = 0.1  # prune stopword-class query tokens before postings
_LI_NQ = 3


def _li_duck_emb(tok: str) -> str:
    comps = ", ".join(
        f"CAST((strpos('0123456789abcdef', substr(md5({tok}), {2*k+1}, 1)) - 1)"
        f" * 16 + (strpos('0123456789abcdef', substr(md5({tok}), {2*k+2}, 1)) - 1)"
        f" - 127.5 AS DOUBLE)"
        for k in range(_LI_DIM)
    )
    return f"[{comps}]"


_LATE_INTERACTION_SQL = f"""
    WITH wl AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    toks AS MATERIALIZED (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM wl)
    ),
    stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    dft AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
    qt AS MATERIALIZED (
      SELECT t.doc_id AS q_id, t.tok
      FROM toks t JOIN dft d USING (tok) CROSS JOIN stats s
      WHERE t.doc_id < {_LI_NQ} AND d.df <= s.n_docs * {_LI_DF_FRAC}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT q.q_id, t.doc_id
      FROM qt q JOIN toks t USING (tok)
      WHERE t.doc_id <> q.q_id
    ),
    temb AS MATERIALIZED (
      SELECT tok, {_li_duck_emb('tok')} AS emb
      FROM (SELECT DISTINCT tok FROM toks)
    ),
    sims AS (
      SELECT c.q_id, c.doc_id, q.tok AS qtok,
             round(list_cosine_similarity(qe.emb, te.emb), 6) AS cs
      FROM cand c
      JOIN qt q ON q.q_id = c.q_id
      JOIN toks t ON t.doc_id = c.doc_id
      JOIN temb qe ON qe.tok = q.tok
      JOIN temb te ON te.tok = t.tok
    ),
    maxsim AS (
      SELECT q_id, doc_id, qtok, max(cs) AS ms
      FROM sims GROUP BY q_id, doc_id, qtok
    ),
    scored AS (
      SELECT q_id, doc_id,
             CAST(sum(CAST(ms AS DECIMAL(18, 6))) AS DOUBLE) AS li_score,
             count(*) AS n_qtoks
      FROM maxsim GROUP BY q_id, doc_id
    )
    SELECT q_id, doc_id, li_score,
           CAST(n_qtoks AS INTEGER) AS n_qtoks,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY li_score DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
"""


@query("late_interaction_maxsim_topk", _LATE_INTERACTION_SQL)
def q_late_interaction(spark, sf_dir):
    """ColBERT-style LATE-INTERACTION retrieval: every token carries
    its own embedding; a candidate scores sum over query tokens of the
    MAX cosine against any of its tokens (MaxSim) — the fine-grained
    relevance single-vector retrieval loses to pooling. Token vectors
    are 8 centered md5 bytes (deterministic, value-checkable; real
    towers drop in via the mapInPandas embedder seam without touching
    the plan).

    Scale shape — the honest ColBERT serving decomposition:
    1. candidate generation is an exact-token postings join with the
       stopword-class query tokens pruned by a df cap FIRST (unpruned,
       a common token makes the candidate set the corpus);
    2. the MaxSim rescore runs ONLY on candidates: |cand| x |q_toks| x
       |doc_toks| similarity rows, grouped twice (max per query token,
       then decimal sum per pair — partition-order-free by the same
       DECIMAL discipline as the TPC-H aggregates);
    3. per-query top-3 is the usual bounded window.
    Production ColBERT replaces stage 1 with a token-level ANN index —
    the IVF/LSH tiers here compose for that.

    The interaction unit is the word 3-GRAM (the same shingle unit the
    dedup family indexes): this corpus's unigram vocabulary is ~31
    words, so every unigram is stopword-class and df pruning is
    all-or-nothing; shingles have a real df distribution (16k distinct,
    median df 1 at sf0.01), which is what makes stage 1 selective."""
    from commercial_rfp_data_pipeline_spark.operators.vector import cosine
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_token_index,
    )

    # round 8: the token postings, df table, and per-token vectors are
    # DURABLE corpus artifacts (plans/artifacts.py) — built once per
    # corpus under the BM25 crash discipline, then served as parquet
    # reads; this query's cold cost drops from the full shingle+embed
    # derivation to partition-pruned scans (VERDICT r7 #3)
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        token_index_n_docs,
    )

    toks, dft, tokemb = ensure_token_index(spark, sf_dir, k=3, emb_dim=_LI_DIM)
    # n_docs is a manifest literal (computed once at index build) —
    # not a per-query countDistinct scan of the postings
    n_docs = token_index_n_docs(spark, sf_dir, k=3, emb_dim=_LI_DIM)
    qt = pin(
        toks.filter(F.col("doc_id") < _LI_NQ)
        .join(dft, "tok")
        .filter(F.col("df") <= F.lit(n_docs) * _LI_DF_FRAC)
        .select(F.col("doc_id").alias("q_id"), "tok"),
        "li_qt",
    )
    cand = (
        qt.join(toks, "tok")
        .filter(F.col("doc_id") != F.col("q_id"))
        .select("q_id", "doc_id")
        .distinct()
    )

    # round 11 (VERDICT r10 #3, guide §4.2): the MaxSim rescore runs
    # as ONE grouped-Arrow pass — per candidate doc, a (t_q x 8) @
    # (8 x t_d) accumulation replaces |q_toks| x |doc_toks| interpreted
    # HOF cosine rows (3.74M at sf0.1) and both aggregate exchanges;
    # bit-replication argument and bounded-collect caps documented on
    # operators.vector.li_maxsim_scores. Over-cap inputs (or
    # SPARK_GRAFT_LI_ARROW=0) keep the SQL form below.
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        li_maxsim_scores,
    )

    scored = li_maxsim_scores(toks, qt, tokemb, cand)
    if scored is not None:
        w = Window.partitionBy("q_id").orderBy(
            F.col("li_score").desc(), "doc_id"
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= 3)
            .select("q_id", "doc_id", "li_score", "n_qtoks", "rnk")
        )

    # per-token vectors come pre-materialized from the durable token
    # index (each DISTINCT shingle embedded exactly once at build time;
    # the inline form recomputed the embedding per similarity row —
    # measured ~10x slower)
    # cand and qt are bounded by the query batch (candidates x query
    # shingles), never by the corpus — broadcast them so the corpus-
    # scale token and embedding tables never reshuffle for the join
    sims = (
        toks.select("doc_id", F.col("tok").alias("dtok"))
        .join(F.broadcast(cand), "doc_id")
        .join(
            F.broadcast(qt.select("q_id", F.col("tok").alias("qtok"))), "q_id"
        )
        # broadcast the embedding table: per-shingle vectors are ~100
        # bytes x |vocab| (8 MB at sf0.1) while the interaction stream
        # is millions of rows — broadcasting keeps the stream from
        # shuffling twice for the two vector lookups (measured 63s ->
        # ~20s at sf0.1); at true scale the vocab table buckets instead
        .join(
            F.broadcast(
                tokemb.select(F.col("tok").alias("qtok"), F.col("emb").alias("qe"))
            ),
            "qtok",
        )
        .join(
            F.broadcast(
                tokemb.select(F.col("tok").alias("dtok"), F.col("emb").alias("de"))
            ),
            "dtok",
        )
        .select(
            "q_id",
            "doc_id",
            "qtok",
            F.round(cosine(F.col("qe"), F.col("de")), 6).alias("cs"),
        )
    )
    maxsim = sims.groupBy("q_id", "doc_id", "qtok").agg(F.max("cs").alias("ms"))
    scored = maxsim.groupBy("q_id", "doc_id").agg(
        F.sum(F.col("ms").cast("decimal(18,6)")).cast("double").alias("li_score"),
        F.count(F.lit(1)).cast("int").alias("n_qtoks"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("li_score").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "doc_id", "li_score", "n_qtoks", "rnk")
    )


@query(
    "jaccard_prefix_filter_pairs",
    f"""
    WITH {{_SHINGLES_CTE}},
    freq AS (SELECT sh AS fsh, count(*) AS df FROM sh GROUP BY sh),
    sh2 AS (SELECT doc_id, sh FROM sh JOIN freq ON sh = fsh WHERE df <= 100),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, common,
           round(common / CAST(na.n_sh + nb.n_sh - common AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE common * 2 >= (na.n_sh + nb.n_sh - common) * 1
    """.replace("{_SHINGLES_CTE}", _SHINGLES_CTE.strip()),
)
def q_jaccard_prefix_filter(spark, sf_dir):
    """PPJoin-style prefix-filtered Jaccard join at t = 1/2: the oracle
    is the NAIVE EXACT all-pairs join over the same df-capped shingle
    universe, so a hash-green result proves the prefix candidate rule
    is COMPLETE (no qualifying pair escapes the pruned postings) as
    well as correct — the property that lets the index skip the
    sum(df^2) candidate blowup at corpus scale. The threshold compare
    runs in exact integer arithmetic (common*2 >= union*1) on both
    engines; `jaccard` is emitted rounded for the report only."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        jaccard_prefix_filter_pairs,  # noqa: F401 — builder, cited above
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_jaccard_pairs,
    )

    # round 9 (VERDICT r8 #5) served postings + df from the durable
    # token-index artifact; round 10 goes one step further and serves
    # the VERIFIED pair table itself (plans/artifacts.py:
    # ensure_jaccard_pairs — the PPJoin join+verify was still 7.7 s of
    # certified bench per consumer). The all-pairs oracle re-proves
    # stored == inline on every verify.
    return ensure_jaccard_pairs(spark, sf_dir)


_SPELL_NQ = 10

_SPELL_SQL = f"""
    WITH vocab AS MATERIALIZED (
      SELECT word, count(*) AS df FROM (
        SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents
      ) WHERE length(word) >= 3 GROUP BY word
    ),
    qterms AS MATERIALIZED (
      -- deterministic misspellings: drop the 2nd char of the top-10
      -- vocabulary words (guaranteed edit distance 1 from the truth)
      SELECT substr(word, 1, 1) || substr(word, 3) AS term, word AS truth
      FROM (
        SELECT word, row_number() OVER (ORDER BY df DESC, word) AS r
        FROM vocab
      ) WHERE r <= {_SPELL_NQ}
    ),
    -- the oracle verifies by BRUTE FORCE (vocab x terms, levenshtein),
    -- so hash equality also proves the engine's deletion-key candidate
    -- generation is complete for distance <= 1
    scored AS (
      SELECT q.term, v.word AS corrected, levenshtein(q.term, v.word) AS dist,
             CAST(v.df AS BIGINT) AS df
      FROM qterms q CROSS JOIN vocab v
      WHERE levenshtein(q.term, v.word) <= 1
    )
    SELECT term, corrected, CAST(dist AS INTEGER) AS dist, df FROM (
      SELECT *, row_number() OVER (PARTITION BY term
                ORDER BY dist, df DESC, corrected) AS rn
      FROM scored
    ) WHERE rn = 1
"""


@query("spell_correct_query_terms", _SPELL_SQL)
def q_spell_correct(spark, sf_dir):
    """SymSpell query spell-correction against the corpus vocabulary:
    candidates come from matching DELETE-ONE-CHAR variant keys of the
    query term and of each vocabulary word (exhaustive for edit
    distance <= 1, zero UDFs — the same deletion-key blocking the
    entity-resolution family uses), verified with levenshtein and
    ranked SymSpell-style by (distance, frequency DESC, word). The
    oracle scores by brute-force vocab x terms, so a hash-green result
    proves the deletion-key candidate set is COMPLETE, not just
    precise.

    Scale: the vocabulary index (word -> delete variants) is the
    one-time SymSpell build — O(V x avg_len) rows, shuffled once on
    the variant key; each query term explodes into len+1 keys and
    equi-joins the index. Nothing touches the corpus at query time."""
    from commercial_rfp_data_pipeline_spark.operators.linkage import (
        _deletion_keys,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import words

    docs = load_table(spark, sf_dir, "documents")
    vocab = pin(
        docs.select(F.explode(words("text")).alias("word"))
        .filter(F.length("word") >= 3)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df")),
        "spell_vocab",
    )
    # TakeOrderedAndProject for the top-N query terms (per-partition
    # heaps, N rows to the driver) — NOT a global row_number window,
    # which would funnel the full (unbounded) vocabulary into one task
    qterms = (
        vocab.orderBy(F.col("df").desc(), "word")
        .limit(_SPELL_NQ)
        .select(
            F.concat(
                F.substring("word", 1, 1),
                F.expr("substring(word, 3, length(word) - 2)"),
            ).alias("term")
        )
    )
    vkeys = vocab.select(
        "word", "df", F.explode(_deletion_keys("word")).alias("_key")
    )
    qkeys = qterms.select("term", F.explode(_deletion_keys("term")).alias("_key"))
    cand = (
        qkeys.join(vkeys, "_key")
        .select("term", "word", "df")
        .distinct()
        .withColumn("dist", F.levenshtein("term", "word"))
        .filter(F.col("dist") <= 1)
    )
    wr = Window.partitionBy("term").orderBy(
        "dist", F.col("df").desc(), F.col("word")
    )
    return (
        cand.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select(
            "term",
            F.col("word").alias("corrected"),
            F.col("dist").cast("int").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
    )


# ---- LSH banding parameter sweep ------------------------------------
# The config-CHOOSING op minhash_band_eval measures one point of:
# sweep rows-per-band r over the same 8 minhashes (b = 8/r bands) and
# emit each config's measured candidate volume + precision/recall
# against exact Jaccard >= 0.2 truth, next to the theoretical S-curve
# collision probability 1-(1-tau^r)^b at tau = 0.2 (embedded as 6dp
# literals — config math, not data math). r=1 is the recall-greedy
# end (any shared minhash collides), r=8 the precision-greedy end.
_LSH_SWEEP_CONFIGS = ((1, 8, 0.832228), (2, 4, 0.150653), (4, 2, 0.003197), (8, 1, 0.000003))


def _lsh_sweep_cfg_sql(r: int, b: int, theory: float) -> str:
    return f"""
    bands_{r} AS (
      SELECT doc_id, seed // {r} AS band,
             md5(string_agg(mh, '|' ORDER BY seed)) AS band_val
      FROM minh GROUP BY doc_id, seed // {r}
    ),
    cand_{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{r} a JOIN bands_{r} b
        ON a.band = b.band AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
    ),
    m_{r} AS (
      SELECT {r} AS rows_per_band, {b} AS n_bands,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_{r}) AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT)
              FROM cand_{r} JOIN truth USING (doc_a, doc_b)) AS n_tp,
             CAST({theory} AS DOUBLE) AS theory_p_at_tau
    )"""


_LSH_SWEEP_SQL = f"""
    WITH {_SHINGLES_CTE.strip()},
    freq AS (SELECT sh AS fsh, count(*) AS df FROM sh GROUP BY sh),
    sh2 AS (SELECT doc_id, sh FROM sh JOIN freq ON sh = fsh WHERE df <= 100),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS MATERIALIZED (
      SELECT doc_a, doc_b FROM common
      JOIN counts na ON na.doc_id = doc_a
      JOIN counts nb ON nb.doc_id = doc_b
      WHERE round(common / CAST(na.n_sh + nb.n_sh - common AS DOUBLE), 6) >= 0.2
    ),
    hashed AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || ':' || sh) AS h
      FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s
    ),
    minh AS MATERIALIZED (
      SELECT doc_id, seed, min(h) AS mh FROM hashed GROUP BY doc_id, seed
    ),
    {",".join(_lsh_sweep_cfg_sql(r, b, t) for r, b, t in _LSH_SWEEP_CONFIGS)},
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth),
    allm AS ({" UNION ALL ".join(f"SELECT * FROM m_{r}" for r, _, _ in _LSH_SWEEP_CONFIGS)})
    SELECT rows_per_band, n_bands, n_candidates, nt.n AS n_true, n_tp,
           round(CASE WHEN n_candidates = 0 THEN 0.0
                      ELSE n_tp / CAST(n_candidates AS DOUBLE) END, 6)
             AS precision,
           round(CASE WHEN nt.n = 0 THEN 0.0
                      ELSE n_tp / CAST(nt.n AS DOUBLE) END, 6) AS recall,
           theory_p_at_tau
    FROM allm CROSS JOIN nt
"""


@query("lsh_banding_parameter_sweep", _LSH_SWEEP_SQL)
def q_lsh_banding_parameter_sweep(spark, sf_dir):
    """Banding-config sweep over the SAME 8 minhashes: for rows-per-
    band r in {{1,2,4,8}} (b = 8/r bands), measured candidate volume,
    precision and recall against exact 3-gram Jaccard >= 0.2 truth,
    plus the textbook S-curve collision probability at the threshold —
    the table a dedup pipeline reads to pick its banding before
    committing a corpus-scale run. Signatures and truth serve from
    the durable `ensure_minhash_eval` artifact (round 10 — computed
    once per CORPUS, not once per run); each config adds only its
    band groupBy and bucket self-join (candidate-bounded, never
    all-pairs). The oracle still states the full shingle->minhash
    derivation, so green verify proves artifact == inline."""
    from commercial_rfp_data_pipeline_spark.io import pin
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_minhash_eval,
    )

    sigs, truth_full = ensure_minhash_eval(spark, sf_dir)
    truth = pin(truth_full.select("doc_a", "doc_b"), "lsh_sweep_truth")
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))

    per_cfg = []
    for r, b, theory in _LSH_SWEEP_CONFIGS:
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(k).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|", *[F.col(f"mh{s}") for s in range(k * r, (k + 1) * r)]
                        )
                    ).alias("band_val"),
                )
                for k in range(b)
            ]
        )
        bands = pin(
            sigs.select(
                "doc_id", F.explode(band_structs).alias("bv")
            ).select("doc_id", "bv.band", "bv.band_val"),
            f"lsh_sweep_bands_{r}",
        )
        a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_val")
        bb = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_val")
        cand = (
            a.join(bb, ["band", "band_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        tp = cand.join(truth, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tp")
        )
        per_cfg.append(
            nc.crossJoin(tp).select(
                F.lit(r).alias("rows_per_band"),
                F.lit(b).alias("n_bands"),
                "n_candidates",
                "n_tp",
                F.lit(theory).alias("theory_p_at_tau"),
            )
        )
    allm = per_cfg[0]
    for c in per_cfg[1:]:
        allm = allm.unionByName(c)
    return allm.crossJoin(F.broadcast(nt)).select(
        "rows_per_band",
        "n_bands",
        "n_candidates",
        "n_true",
        "n_tp",
        F.round(
            F.when(F.col("n_candidates") == 0, F.lit(0.0)).otherwise(
                F.col("n_tp") / F.col("n_candidates").cast("double")
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(F.col("n_true") == 0, F.lit(0.0)).otherwise(
                F.col("n_tp") / F.col("n_true").cast("double")
            ),
            6,
        ).alias("recall"),
        "theory_p_at_tau",
    )


# ---- small-to-big window retrieval -----------------------------------
# The RAG pattern: index FINE chunks (precise keyword/embedding match,
# low dilution) but serve the surrounding COARSE window (pos +-1 fine
# chunks of the same parent), so generation gets context the retrieval
# granularity would have cut off. Fine chunks: 60 chars, no overlap
# (windows must tile, or neighbors double-count text). Score = number
# of query terms present in the fine chunk's token set — integer,
# engine-exact.
_S2B_TERMS = ("table", "query", "spark")
_S2B_SIZE = 60
_S2B_K = 5

_S2B_SQL = f"""
    WITH base AS (
      SELECT doc_id, text,
             1 + (greatest(length(text) - {_S2B_SIZE}, 0) + {_S2B_SIZE - 1})
                 // {_S2B_SIZE} AS n_chunks
      FROM documents
    ),
    fine AS MATERIALIZED (
      SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(pos AS VARCHAR) AS chunk_id,
             CAST(doc_id AS VARCHAR) AS parent_id,
             CAST(pos AS INTEGER) AS pos,
             substring(text, 1 + pos * {_S2B_SIZE}, {_S2B_SIZE}) AS chunk
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, n_chunks - 1)) AS pos
            FROM base)
    ),
    scored AS (
      SELECT chunk_id, parent_id, pos,
             len(list_filter([{", ".join(repr(t) for t in _S2B_TERMS)}],
                 t -> list_contains(string_split(lower(trim(
                   regexp_replace(chunk, '\\s+', ' ', 'g'))), ' '), t)))
               AS n_hits
      FROM fine
    ),
    top AS (
      SELECT chunk_id, parent_id, pos, CAST(n_hits AS INTEGER) AS n_hits,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT *, row_number() OVER (
          ORDER BY n_hits DESC, chunk_id) AS rnk
        FROM scored
      ) WHERE rnk <= {_S2B_K}
    )
    SELECT t.chunk_id, t.parent_id, t.pos, t.n_hits, t.rnk,
           string_agg(n.chunk, ' ' ORDER BY n.pos) AS window_text
    FROM top t JOIN fine n
      ON n.parent_id = t.parent_id AND abs(n.pos - t.pos) <= 1
    GROUP BY t.chunk_id, t.parent_id, t.pos, t.n_hits, t.rnk
"""


@query("small_to_big_window_retrieval", _S2B_SQL)
def q_small_to_big_window(spark, sf_dir):
    """Small-to-big retrieval: keyword-score FINE 60-char chunks (hit
    count over the query terms — precise, dilution-free matching), take
    the global top-5, and serve each winner's pos+-1 WINDOW within its
    parent document (the context the fine granularity would starve a
    generator of). Tiling chunks (no overlap) keep the window a clean
    concatenation. The expansion join touches only k winners x 3
    neighbors — retrieval granularity and serving granularity decouple
    at zero corpus-scale cost."""
    from commercial_rfp_data_pipeline_spark.operators.chunking import chunk_text
    from commercial_rfp_data_pipeline_spark.operators.textops import words

    docs = load_table(spark, sf_dir, "documents")
    fine = pin(
        chunk_text(docs, size=_S2B_SIZE, overlap=0), "s2b_fine_chunks"
    )
    toks = words(F.col("chunk"))
    n_hits = F.size(
        F.filter(
            F.array(*[F.lit(t) for t in _S2B_TERMS]),
            lambda t: F.array_contains(toks, t),
        )
    )
    # TakeOrderedAndProject (per-partition heaps), NOT a global
    # row_number window that would funnel every chunk through one task;
    # the rank window then runs over k rows only
    w = Window.orderBy(F.col("n_hits").desc(), F.col("chunk_id"))
    top = (
        fine.select(
            "chunk_id", "parent_id", "pos", n_hits.cast("int").alias("n_hits")
        )
        .orderBy(F.col("n_hits").desc(), F.col("chunk_id"))
        .limit(_S2B_K)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )
    nbr = fine.select(
        F.col("parent_id").alias("_p"),
        F.col("pos").alias("_np"),
        F.col("chunk").alias("_nc"),
    )
    return (
        top.join(
            nbr,
            (F.col("_p") == F.col("parent_id"))
            & (F.abs(F.col("_np") - F.col("pos")) <= 1),
        )
        .groupBy("chunk_id", "parent_id", "pos", "n_hits", "rnk")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_np", "_nc"))),
                    lambda s: s["_nc"],
                ),
                " ",
            ).alias("window_text")
        )
    )


# ---- pseudo-relevance-feedback query expansion (RM-style) ------------
# The classic two-pass retrieval trick (Rocchio/RM): retrieve with the
# original terms, mine expansion terms from the top feedback docs,
# retrieve again with the widened weighted term set. Every score is an
# exact-decimal sum of 6-dp idf contributions, so ordering and hashes
# are order-independent on both engines.
_PRF_QIDS = (3, 7, 11)  # query documents
_PRF_ORIG_K = 3  # original terms per query (its top tf-idf terms)
_PRF_FB_DOCS = 3  # feedback docs
_PRF_EXP_K = 5  # expansion terms
_PRF_TOPK = 5

_PRF_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    idf AS (SELECT tok, round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS idf
            FROM dfreq CROSS JOIN nd),
    orig AS (
      SELECT q_id, tok, idf FROM (
        SELECT tf.doc_id AS q_id, tf.tok, i.idf,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY round(tf.tf * i.idf, 6) DESC, tf.tok) AS rn
        FROM tf JOIN idf i USING (tok)
        WHERE tf.doc_id IN {_PRF_QIDS!r}
      ) WHERE rn <= {_PRF_ORIG_K}
    ),
    s1 AS (
      SELECT o.q_id, tf.doc_id,
             CAST(sum(CAST(o.idf AS DECIMAL(18,6))) AS DOUBLE) AS s1score
      FROM orig o JOIN tf ON tf.tok = o.tok AND tf.doc_id <> o.q_id
      GROUP BY o.q_id, tf.doc_id
    ),
    fb AS (
      SELECT q_id, doc_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY s1score DESC, doc_id) AS rn
        FROM s1
      ) WHERE rn <= {_PRF_FB_DOCS}
    ),
    expsc AS (
      SELECT f.q_id, tf.tok,
             CAST(sum(CAST(round(tf.tf * i.idf, 6) AS DECIMAL(18,6)))
               AS DOUBLE) AS esc
      FROM fb f
      JOIN tf ON tf.doc_id = f.doc_id
      JOIN idf i ON i.tok = tf.tok
      WHERE NOT EXISTS (SELECT 1 FROM orig o
                        WHERE o.q_id = f.q_id AND o.tok = tf.tok)
      GROUP BY f.q_id, tf.tok
    ),
    expt AS (
      SELECT q_id, tok FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY esc DESC, tok) AS rn
        FROM expsc
      ) WHERE rn <= {_PRF_EXP_K}
    ),
    terms AS (
      SELECT q_id, tok, CAST(1.0 AS DECIMAL(2,1)) AS w FROM orig
      UNION ALL
      SELECT q_id, tok, CAST(0.5 AS DECIMAL(2,1)) AS w FROM expt
    ),
    s2 AS (
      SELECT tm.q_id, tf.doc_id,
             CAST(sum(tm.w * CAST(i.idf AS DECIMAL(18,6))) AS DOUBLE)
               AS score,
             CAST(sum(CASE WHEN tm.w = CAST(1.0 AS DECIMAL(2,1))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_orig_matched,
             CAST(sum(CASE WHEN tm.w < CAST(1.0 AS DECIMAL(2,1))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_exp_matched
      FROM terms tm
      JOIN tf ON tf.tok = tm.tok AND tf.doc_id <> tm.q_id
      JOIN idf i ON i.tok = tm.tok
      GROUP BY tm.q_id, tf.doc_id
    )
    SELECT q_id, doc_id, score, n_orig_matched, n_exp_matched,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY score DESC, doc_id) AS rnk
      FROM s2
    ) WHERE rnk <= {_PRF_TOPK}
"""


@query("prf_query_expansion_topk", _PRF_SQL)
def q_prf_query_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval: each query doc's top-3
    tf-idf terms retrieve 3 feedback docs (idf-sum scoring); the
    feedback docs' best 5 non-query terms (summed tf-idf) join the
    term set at half weight; the expanded weighted set re-scores the
    corpus and the top-5 come out with how many original vs expansion
    terms each hit matched. Scores are exact-decimal sums of 6-dp idf
    contributions — order-independent under any partitioning.

    Scale: term posting lists are the only join fanout (idf-capped
    vocabulary, same shape as the BM25 serving path); the feedback and
    expansion frames are queries x K rows; no stage ever touches
    corpus x corpus."""
    from commercial_rfp_data_pipeline_spark.operators.textops import norm_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(norm_text("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    tf = pin(tf)
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = pin(
        dfreq.crossJoin(F.broadcast(nd)).select(
            "tok",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("idf"),
        )
    )
    w_orig = Window.partitionBy("q_id").orderBy(
        F.col("tfidf").desc(), F.col("tok")
    )
    orig = (
        tf.filter(F.col("doc_id").isin(*_PRF_QIDS))
        .join(idf, "tok")
        .select(
            F.col("doc_id").alias("q_id"),
            "tok",
            "idf",
            F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
        )
        .withColumn("rn", F.row_number().over(w_orig))
        .filter(F.col("rn") <= _PRF_ORIG_K)
        .select("q_id", "tok", "idf")
    )
    orig = pin(orig)
    s1 = (
        orig.join(tf, "tok")
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(
            F.sum(F.col("idf").cast("decimal(18,6)"))
            .cast("double")
            .alias("s1score")
        )
    )
    w_fb = Window.partitionBy("q_id").orderBy(
        F.col("s1score").desc(), F.col("doc_id")
    )
    fb = (
        s1.withColumn("rn", F.row_number().over(w_fb))
        .filter(F.col("rn") <= _PRF_FB_DOCS)
        .select("q_id", "doc_id")
    )
    expsc = (
        fb.join(tf, "doc_id")
        .join(idf, "tok")
        .join(orig.select("q_id", "tok"), ["q_id", "tok"], "left_anti")
        .groupBy("q_id", "tok")
        .agg(
            F.sum(
                F.round(F.col("tf") * F.col("idf"), 6).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("esc")
        )
    )
    w_exp = Window.partitionBy("q_id").orderBy(F.col("esc").desc(), F.col("tok"))
    expt = (
        expsc.withColumn("rn", F.row_number().over(w_exp))
        .filter(F.col("rn") <= _PRF_EXP_K)
        .select("q_id", "tok")
    )
    one = F.lit(1.0).cast("decimal(2,1)")
    half = F.lit(0.5).cast("decimal(2,1)")
    terms = orig.select("q_id", "tok", one.alias("w")).unionByName(
        expt.select("q_id", "tok", half.alias("w"))
    )
    s2 = (
        terms.join(tf, "tok")
        .filter(F.col("doc_id") != F.col("q_id"))
        .join(idf, "tok")
        .groupBy("q_id", "doc_id")
        .agg(
            F.sum(F.col("w") * F.col("idf").cast("decimal(18,6)"))
            .cast("double")
            .alias("score"),
            F.sum(F.when(F.col("w") == one, 1).otherwise(0))
            .cast("bigint")
            .alias("n_orig_matched"),
            F.sum(F.when(F.col("w") < one, 1).otherwise(0))
            .cast("bigint")
            .alias("n_exp_matched"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        s2.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= _PRF_TOPK)
    )


# ---- tokenizer fertility by language ---------------------------------


@query(
    "tokenizer_fertility_by_lang",
    f"""
    WITH base AS (
      SELECT doc_id, lang, {_NORM} AS t FROM documents
    ),
    counted AS (
      SELECT lang,
             CAST(length(t) AS BIGINT) AS n_chars,
             CAST(CASE WHEN length(t) = 0 THEN 0
                  ELSE len(string_split(t, ' ')) END AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(t,
               '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+'))
               AS BIGINT) AS n_bpe
      FROM base
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6) AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 6)
             AS chars_per_token
    FROM counted
    GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and chars per token — the metric multilingual-corpus work
    tracks because a high-fertility language pays more compute per
    word (and over-counts against a token budget). Corpus-level ratios
    of exact integer sums, so the division is engine-identical.

    Scale: one narrow per-doc count map + one lang groupBy with
    map-side combine; output is one row per language."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        bpe_token_count,
        norm_text,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "lang",
        F.length(norm_text("text")).cast("bigint").alias("n_chars"),
        token_count("text").cast("bigint").alias("n_words"),
        bpe_token_count("text").cast("bigint").alias("n_bpe"),
    )
    return counted.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
        ).alias("chars_per_token"),
    )


# ---- code-switch (mixed-language document) detection -----------------

_CS_CHUNK_CTE = """
csbase AS (
  SELECT doc_id, text,
         1 + (greatest(length(text) - 120, 0) + 89) // 90 AS n_chunks
  FROM documents
),
cschunks AS (
  SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(pos AS VARCHAR) AS chunk_id,
         doc_id AS parent_id,
         substr(text, 1 + pos * 90, 120) AS chunk
  FROM (SELECT doc_id, text, unnest(generate_series(0, n_chunks - 1)) AS pos
        FROM csbase)
)
"""


def _cs_oracle() -> str:
    cvotes = _lang_votes_sql()
    return f"""
    WITH {_LANG_CTE.strip()},
    {_CS_CHUNK_CTE.strip()},
    cw AS (
      SELECT chunk_id, parent_id,
             string_split(lower(trim(regexp_replace(chunk, '\\s+', ' ',
               'g'))), ' ') AS w
      FROM cschunks
    ),
    cv AS (SELECT chunk_id, parent_id, {cvotes} FROM cw),
    cp AS (SELECT chunk_id, parent_id, {_lang_case_sql()} AS chunk_pred
           FROM cv)
    SELECT l.doc_id, l.lang_pred,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN cp.chunk_pred <> l.lang_pred
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
           round(sum(CASE WHEN cp.chunk_pred <> l.lang_pred
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS disagree_frac,
           (sum(CASE WHEN cp.chunk_pred <> l.lang_pred THEN 1 ELSE 0 END)
              / CAST(count(*) AS DOUBLE)) >= 0.3 AS is_code_switched
    FROM cp JOIN langs l ON l.doc_id = cp.parent_id
    GROUP BY l.doc_id, l.lang_pred
    """


@query("code_switch_detection", _cs_oracle())
def q_code_switch_detection(spark, sf_dir):
    """Mixed-language (code-switch) detection: the doc-level stopword
    lang-id is re-run on every 120/30 chunk, and a document whose
    chunks disagree with its own label on >= 30% of chunks is flagged —
    the curation step that catches concatenated multilingual crawl
    pages a doc-level classifier papers over. Both the chunker and the
    vote/argmax chains are the SAME generated logic as chunk_documents
    and lang_id_heuristic, composed.

    Scale: chunking is posexplode (no shuffle), per-chunk votes are
    narrow expressions, and the only shuffle is the groupBy(parent) —
    one pass over the chunk stream."""
    from commercial_rfp_data_pipeline_spark.operators.textops import lang_id

    docs = load_table(spark, sf_dir, "documents")
    doc_pred = lang_id(docs).select("doc_id", "lang_pred")
    chunks = chunk_text(docs, size=120, overlap=30)
    chunk_pred = lang_id(
        chunks.select(
            F.col("chunk_id").alias("doc_id"), F.col("chunk").alias("text")
        )
    ).select(
        F.col("doc_id").alias("chunk_id"),
        F.col("lang_pred").alias("chunk_pred"),
    )
    joined = (
        chunks.select("chunk_id", F.col("parent_id").cast("bigint").alias("doc_id"))
        .join(chunk_pred, "chunk_id")
        .join(doc_pred, "doc_id")
    )
    dis = F.when(F.col("chunk_pred") != F.col("lang_pred"), 1).otherwise(0)
    return joined.groupBy("doc_id", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(dis).cast("bigint").alias("n_disagree"),
        F.round(
            F.sum(dis) / F.count(F.lit(1)).cast("double"), 6
        ).alias("disagree_frac"),
        (
            (F.sum(dis) / F.count(F.lit(1)).cast("double")) >= 0.3
        ).alias("is_code_switched"),
    )


# ---- training-batch padding economics (round 7) ----------------------
# Dynamic length-bucketed batching is how training stacks avoid paying
# max-seq-len padding for every short doc. This report quantifies the
# win: pad-to-global-max waste vs pad-to-next-power-of-two waste, per
# bucket. The next-power-of-two is INTEGER arithmetic on both engines
# (1 << length(bin(n-1)) — no float log2 that could land on 7.9999…).


@query(
    "padding_waste_report",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    nz AS (SELECT * FROM toks WHERE n_tokens > 0),
    mx AS (SELECT max(n_tokens) AS max_len FROM nz),
    bucketed AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens <= 1 THEN 1
                  ELSE (1::BIGINT << length(bin(n_tokens - 1))) END
               AS bucket_len
      FROM nz
    )
    SELECT bucket_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
           CAST(sum(bucket_len - n_tokens) AS BIGINT) AS bucket_pad,
           CAST(sum(mx.max_len - n_tokens) AS BIGINT) AS maxlen_pad,
           round(sum(bucket_len - n_tokens)
                 / CAST(sum(bucket_len) AS DOUBLE), 6) AS bucket_waste_frac,
           round(sum(mx.max_len - n_tokens)
                 / CAST(count(*) * mx.max_len AS DOUBLE), 6)
             AS maxlen_waste_frac
    FROM bucketed CROSS JOIN mx
    GROUP BY bucket_len, mx.max_len
    """,
)
def q_padding_waste(spark, sf_dir):
    """Padding-waste economics of length-bucketed batching: docs are
    assigned to next-power-of-two token buckets and each bucket
    reports the padding it pays versus what pad-to-corpus-max would
    pay — the report that justifies dynamic batching in a training
    stack. The bucket id is pure integer arithmetic (shift by the
    binary length of n-1), the corpus max is a broadcast one-row
    aggregate, and everything else is a |buckets|-key groupBy with
    map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    mx = toks.agg(F.max("n_tokens").alias("max_len"))
    bucket = F.when(F.col("n_tokens") <= 1, F.lit(1).cast("long")).otherwise(
        F.expr("shiftleft(1L, length(bin(n_tokens - 1)))")
    )
    return (
        toks.withColumn("bucket_len", bucket)
        .crossJoin(F.broadcast(mx))
        .groupBy("bucket_len", "max_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
            F.sum(F.col("bucket_len") - F.col("n_tokens"))
            .cast("long")
            .alias("bucket_pad"),
            F.sum(F.col("max_len") - F.col("n_tokens"))
            .cast("long")
            .alias("maxlen_pad"),
            F.round(
                F.sum(F.col("bucket_len") - F.col("n_tokens"))
                / F.sum("bucket_len").cast("double"),
                6,
            ).alias("bucket_waste_frac"),
            F.round(
                F.sum(F.col("max_len") - F.col("n_tokens"))
                / (F.count(F.lit(1)) * F.max("max_len")).cast("double"),
                6,
            ).alias("maxlen_waste_frac"),
        )
        .drop("max_len")
        .select(
            "bucket_len",
            "n_docs",
            "real_tokens",
            "bucket_pad",
            "maxlen_pad",
            "bucket_waste_frac",
            "maxlen_waste_frac",
        )
    )


# ---- n-gram diversity (distinct-1 / distinct-2) -----------------------


@query(
    "distinct_ngram_diversity",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             string_split({_NORM}, ' ') AS ws
      FROM documents WHERE length({_NORM}) > 0
    ),
    uni AS (
      SELECT source, unnest(ws) AS g FROM d
    ),
    bi AS (
      SELECT source, ws[CAST(i AS INTEGER)] || ' ' ||
             ws[CAST(i + 1 AS INTEGER)] AS g
      FROM d, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2
    ),
    u AS (SELECT source, count(*) AS n1, count(DISTINCT g) AS d1
          FROM uni GROUP BY source),
    b AS (SELECT source, count(*) AS n2, count(DISTINCT g) AS d2
          FROM bi GROUP BY source)
    SELECT u.source,
           CAST(u.n1 AS BIGINT) AS total_unigrams,
           CAST(u.d1 AS BIGINT) AS distinct_unigrams,
           round(u.d1 / CAST(u.n1 AS DOUBLE), 6) AS distinct_1,
           CAST(b.n2 AS BIGINT) AS total_bigrams,
           CAST(b.d2 AS BIGINT) AS distinct_bigrams,
           round(b.d2 / CAST(b.n2 AS DOUBLE), 6) AS distinct_2
    FROM u JOIN b USING (source)
    """,
)
def q_distinct_ngram_diversity(spark, sf_dir):
    """Per-source lexical diversity (distinct-1 / distinct-2 — the
    Self-BLEU-adjacent metric synthetic-data pipelines watch): the
    ratio of distinct to total uni/bigrams per source. Mode-collapsed
    generated data shows up as a LOW distinct-2 long before eyeballs
    catch it.

    Scale: two explode -> per-source distinct aggregations; Spark
    plans count(DISTINCT) as the standard two-phase expand — no
    driver-side sets."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", norm_text("text").alias("_t")
    ).filter(F.length("_t") > 0).select(
        "doc_id", "source", F.split("_t", " ").alias("ws")
    )
    uni = d.select("source", F.explode("ws").alias("g"))
    bi = d.filter(F.size("ws") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("g"),
    )
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_unigrams"),
        F.countDistinct("g").cast("long").alias("distinct_unigrams"),
    )
    b = bi.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_bigrams"),
        F.countDistinct("g").cast("long").alias("distinct_bigrams"),
    )
    return (
        u.join(b, "source")
        .select(
            "source",
            "total_unigrams",
            "distinct_unigrams",
            F.round(
                F.col("distinct_unigrams")
                / F.col("total_unigrams").cast("double"),
                6,
            ).alias("distinct_1"),
            "total_bigrams",
            "distinct_bigrams",
            F.round(
                F.col("distinct_bigrams")
                / F.col("total_bigrams").cast("double"),
                6,
            ).alias("distinct_2"),
        )
    )


# ---- Zipf slope (corpus health fingerprint) ---------------------------
_ZIPF_K = 100  # top-K terms the fit runs over


@query(
    "zipf_slope_estimate",
    f"""
    WITH wf AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    top AS (
      SELECT word, freq,
             row_number() OVER (ORDER BY freq DESC, word) AS rnk
      FROM wf
      ORDER BY freq DESC, word LIMIT {_ZIPF_K}
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(20,6)) AS x,
             CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(20,6)) AS y
      FROM top
    ),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           round(CAST(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx
                      AS DOUBLE) / n, 6) AS intercept
    FROM m
    """,
)
def q_zipf_slope(spark, sf_dir):
    """Zipf's-law slope of the corpus frequency spectrum: OLS of
    ln(freq) on ln(rank) over the top-100 terms. Natural text sits
    near -1; boilerplate-heavy or synthetic corpora drift — the
    one-number corpus-health fingerprint next to the length histogram
    and entropy signals.

    Exactness: ln values are rounded to 6 dp and accumulated as
    DECIMAL moments (order-independent exact sums — the same
    discipline as the OLS trend family); the two final divisions run
    once on exact numbers. Scale: one word-count groupBy, a top-100
    TakeOrdered, rank attached over the 100 surviving rows, constant
    work after."""
    from commercial_rfp_data_pipeline_spark.operators.textops import words

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(words("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), "word")
    top = (
        wf.orderBy(F.col("freq").desc(), "word")
        .limit(_ZIPF_K)
        .withColumn("rnk", F.row_number().over(w))
    )
    pts = top.select(
        F.round(F.log(F.col("rnk").cast("double")), 6)
        .cast("decimal(20,6)")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6)
        .cast("decimal(20,6)")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope_den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = slope_num.cast("double") / slope_den.cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (
                F.col("sy")
                - slope_num / slope_den * F.col("sx")
            ).cast("double")
            / F.col("n"),
            6,
        ).alias("intercept"),
    )


# ---- RAKE keyphrase extraction (round 7, second wave) ------------------
# Rose et al. 2010: candidate phrases are maximal stopword-free runs;
# word score = degree/freq over the candidate universe; phrase score =
# sum of its words' scores. The metadata-enrichment op next to
# tf-idf top terms and PMI collocations — RAKE favors multi-word
# phrases (degree rewards co-occurrence) where tf-idf favors rare
# single tokens.
_RAKE_MAX_WORDS = 4
_RAKE_K = 20
_RAKE_STOP_RE = r"\b(the|a|of|to|and|in|is|for|on|it)\b"


@query(
    "rake_keyphrases_top20",
    f"""
    WITH cand AS (
      SELECT doc_id, trim(p) AS phrase
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(
                 regexp_replace({_NORM}, '{_RAKE_STOP_RE}', '|', 'g'),
                 '\\s*\\|+\\s*')) AS p
        FROM documents
      )
      WHERE length(trim(p)) > 0
        AND len(string_split(trim(p), ' ')) <= {_RAKE_MAX_WORDS}
    ),
    pw AS (
      SELECT doc_id, phrase,
             len(string_split(phrase, ' ')) AS plen,
             unnest(string_split(phrase, ' ')) AS w
      FROM cand
    ),
    wstats AS (
      SELECT w, count(*) AS freq, sum(plen) AS degree FROM pw GROUP BY w
    ),
    wscore AS (
      SELECT w,
             CAST(round(degree / CAST(freq AS DOUBLE), 6)
                  AS DECIMAL(20,6)) AS ws
      FROM wstats
    ),
    dphrase AS (
      SELECT phrase, count(*) AS n_occ FROM cand GROUP BY phrase
    ),
    dpw AS (
      SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dphrase
    ),
    scored AS (
      SELECT d.phrase, d.n_occ,
             CAST(sum(s.ws) AS DOUBLE) AS score
      FROM dphrase d
      JOIN dpw USING (phrase) JOIN wscore s USING (w)
      GROUP BY d.phrase, d.n_occ
    )
    SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ, round(score, 6) AS score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, phrase) AS rnk
      FROM (SELECT * FROM scored ORDER BY score DESC, phrase LIMIT {_RAKE_K})
    )
    """,
)
def q_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction over the corpus: stopword-delimited
    candidate phrases (<= 4 words), word score = degree/freq over the
    candidate universe, phrase score = exact-decimal sum of its words'
    6-dp scores (order-independent — no float fold), corpus top-20 by
    limit-first TakeOrdered with rank attached over the 20 rows.

    Scale: candidate extraction is a narrow regexp map; the word-stat
    and distinct-phrase tables are vocabulary-sized groupBys with
    map-side partials; the phrase-scoring join is bounded by distinct
    phrases — nothing quadratic, no global window."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        norm_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    replaced = F.regexp_replace(norm_text("text"), _RAKE_STOP_RE, "|")
    cand = (
        docs.select(
            "doc_id",
            F.explode(F.split(replaced, r"\s*\|+\s*")).alias("p"),
        )
        .select("doc_id", F.trim("p").alias("phrase"))
        .filter(
            (F.length("phrase") > 0)
            & (F.size(F.split("phrase", " ")) <= _RAKE_MAX_WORDS)
        )
    )
    pw = cand.select(
        "phrase",
        F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    wscore = (
        pw.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
        .select(
            "w",
            F.round(F.col("degree") / F.col("freq").cast("double"), 6)
            .cast("decimal(20,6)")
            .alias("ws"),
        )
    )
    dphrase = cand.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    dpw = dphrase.select(
        "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        dphrase.join(dpw, "phrase")
        .join(wscore, "w")
        .groupBy("phrase", "n_occ")
        .agg(F.sum("ws").cast("double").alias("score"))
    )
    w = Window.orderBy(F.col("score").desc(), "phrase")
    return (
        scored.orderBy(F.col("score").desc(), "phrase")
        .limit(_RAKE_K)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .select(
            "phrase", "n_occ", F.round("score", 6).alias("score"), "rnk"
        )
    )


# ---- preference-pair mining (DPO data prep, round 7) -------------------


@query(
    "preference_pairs_from_clusters",
    f"""
    WITH RECURSIVE {_SIMHASH_CTE.strip()},
    {_PAIRS_SQL.strip()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    clusters AS (
      SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    ),
    {_QUALITY_CTE.strip()},
    member AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score
      FROM clusters c JOIN qual q USING (doc_id)
    ),
    multi AS (
      SELECT cluster_id FROM member GROUP BY cluster_id
      HAVING count(*) >= 2
    ),
    chosen AS (
      SELECT cluster_id, doc_id AS chosen_doc,
             quality_score AS chosen_quality
      FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                  ORDER BY quality_score DESC, doc_id) AS rn
        FROM member
      ) WHERE rn = 1
    ),
    rejected AS (
      SELECT cluster_id, doc_id AS rejected_doc,
             quality_score AS rejected_quality
      FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                  ORDER BY quality_score, doc_id DESC) AS rn
        FROM member
      ) WHERE rn = 1
    )
    SELECT m.cluster_id, c.chosen_doc, c.chosen_quality,
           r.rejected_doc, r.rejected_quality,
           round(c.chosen_quality - r.rejected_quality, 6)
             AS quality_margin
    FROM multi m JOIN chosen c USING (cluster_id)
    JOIN rejected r USING (cluster_id)
    """,
)
def q_preference_pairs(spark, sf_dir):
    """Preference-pair mining for DPO/RLHF-style training: within each
    near-duplicate cluster (SimHash pairs -> connected components — the
    members SAY the same thing), the quality argmax becomes `chosen`
    and the argmin `rejected`, with the quality margin attached — the
    standard trick for harvesting preference data from a raw corpus
    without any human labels: near-dup content controls for topic, so
    the pair isolates the QUALITY delta.

    Tie-breaks are deterministic and OPPOSED (chosen: quality DESC,
    doc ASC; rejected: quality ASC, doc DESC), so a >= 2-member
    cluster always yields two DISTINCT docs even under total quality
    ties.

    Scale: reuses the banded pair generation and the bounded CC loop;
    the argmax/argmin are cluster-partitioned windows; nothing new
    shuffles beyond the existing dedup pipeline.

    Round 8: clusters + quality come from the DURABLE dedup index
    (plans/dedup_index.py) — one partition-pruned parquet read instead
    of re-running the full SimHash -> CC chain (~6-9 s at sf0.1); the
    stored table equals the fresh chain (append==rebuild invariant),
    so the oracle is unchanged."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        dedup_tables,
    )
    from pyspark.sql import Window as W

    wh = dedup_index_for(spark, sf_dir)
    fp, clusters = dedup_tables(spark, wh)
    quality = fp.select("doc_id", "quality_score")
    member = clusters.join(quality, "doc_id").withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
    ).filter(F.col("_n") >= 2)
    w_hi = W.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    w_lo = W.partitionBy("cluster_id").orderBy(
        F.col("quality_score"), F.col("doc_id").desc()
    )
    chosen = (
        member.withColumn("rn", F.row_number().over(w_hi))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("chosen_doc"),
            F.col("quality_score").alias("chosen_quality"),
        )
    )
    rejected = (
        member.withColumn("rn", F.row_number().over(w_lo))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rejected_doc"),
            F.col("quality_score").alias("rejected_quality"),
        )
    )
    return chosen.join(rejected, "cluster_id").select(
        "cluster_id",
        "chosen_doc",
        "chosen_quality",
        "rejected_doc",
        "rejected_quality",
        F.round(
            F.col("chosen_quality") - F.col("rejected_quality"), 6
        ).alias("quality_margin"),
    )


# dedup-cluster reports served from the durable dedup index --------------
#
# The cluster oracles restate the full SimHash -> recursive-CTE
# connected-components chain, so a hash-green result also re-proves the
# durable index equals the fresh chain on this corpus (the same receipts
# dedup_survivors carries).

# shared cluster-chain oracle prefix (simhash -> pairs -> CC -> sizes)
_CLUSTER_CTES = f"""
{_SIMHASH_CTE.strip()},
{_PAIRS_SQL.strip()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lbl) AS (
  SELECT doc_id AS id, doc_id AS lbl FROM documents
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (
  SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
)
"""


@query(
    "classifier_threshold_sweep",
    f"""
    WITH {_QUALITY_CTE.strip()},
    th AS (SELECT k / 10.0 AS threshold
           FROM unnest(generate_series(1, 9)) t(k)),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT th.threshold,
           CAST(count(*) AS BIGINT) AS n_kept,
           round(count(*) / CAST(tot.n AS DOUBLE), 6) AS frac_kept,
           round(avg(CAST(q.quality_score AS DECIMAL(18,6))), 6)
             AS mean_quality_kept
    FROM qual q, th, tot
    WHERE q.quality_score >= th.threshold
    GROUP BY th.threshold, tot.n
    """,
)
def q_classifier_threshold_sweep(spark, sf_dir):
    """FineWeb-Edu-style gate calibration: for each candidate quality
    threshold, how much corpus survives and at what mean quality — the
    yield/quality curve a data team reads BEFORE committing a
    classifier cutoff (too high starves the token budget, too low
    admits junk). One quality pass, one broadcast of nine threshold
    rows; the sweep costs one aggregation regardless of corpus size."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_features(docs).select("doc_id", "quality_score")
    th = spark.range(1, 10).select((F.col("id") / 10.0).alias("threshold"))
    tot = q.agg(F.count(F.lit(1)).alias("_n"))
    return (
        q.crossJoin(F.broadcast(th))
        .filter(F.col("quality_score") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(
                F.avg(F.col("quality_score").cast("decimal(18,6)")), 6
            )
            .cast("double")
            .alias("mean_quality_kept"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_kept",
            F.round(F.col("n_kept") / F.col("_n"), 6).alias("frac_kept"),
            "mean_quality_kept",
        )
    )


@query(
    "vocab_coverage_curve",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, count(*) AS cnt FROM toks WHERE length(tok) > 0
      GROUP BY tok
    ),
    tot AS (SELECT sum(cnt) AS n FROM counts),
    ranked AS (
      SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
             sum(cnt) OVER (ORDER BY cnt DESC, tok
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, tok, CAST(cnt AS BIGINT) AS cnt,
           round(cum / CAST(tot.n AS DOUBLE), 6) AS cum_frac
    FROM ranked, tot WHERE rnk <= 30
    """,
)
def q_vocab_coverage_curve(spark, sf_dir):
    """Tokenizer-vocabulary economics: frequency-ranked vocabulary with
    cumulative corpus coverage — the curve that decides how small a
    vocab (or how aggressive a truncation) still covers e.g. 95% of
    token occurrences; its tail is the OOV budget.

    Scale: the oracle states the naive global cumulative window; the
    engine runs the DISTRIBUTED prefix sum (range-exchange +
    per-partition windows + one metadata-sized offset combine), so no
    single reducer ever sorts the vocabulary."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        norm_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(norm_text("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("_n"))
    pref = distributed_prefix_sum(
        counts,
        {"cum": F.col("cnt"), "ord": F.lit(1)},
        order_by=[F.col("cnt").desc(), F.col("tok")],
    )
    return (
        pref.filter(F.col("ord_incl") <= 30)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ord_incl").cast("int").alias("rnk"),
            "tok",
            "cnt",
            F.round(F.col("cum_incl") / F.col("_n"), 6).alias("cum_frac"),
        )
    )


@query(
    "cluster_size_histogram",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES.strip()},
    sizes AS (
      SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id
    ),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT CAST(sz AS INTEGER) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           round(sum(sz) / CAST(tot.n AS DOUBLE), 6) AS frac_docs
    FROM sizes, tot GROUP BY sz, tot.n
    """,
)
def q_cluster_size_histogram(spark, sf_dir):
    """Dedup diagnostics: the cluster-size distribution (how much of
    the corpus sits in singletons vs small families vs mega-clusters)
    — the first chart a dedup run is judged by, and the early-warning
    signal for threshold misconfiguration (a giant cluster means the
    similarity gate collapsed). Served from the DURABLE dedup index;
    the oracle brute-forces the full chain, re-proving index == fresh
    chain."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        dedup_tables,
    )

    wh = dedup_index_for(spark, sf_dir)
    _, clusters = dedup_tables(spark, wh)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    tot = clusters.agg(F.count(F.lit(1)).alias("_n"))
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").cast("int").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            F.round(F.col("n_docs") / F.col("_n"), 6).alias("frac_docs"),
        )
    )


@query(
    "dedup_token_savings_by_source",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES.strip()},
    {_QUALITY_CTE.strip()},
    member AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score
      FROM clusters c JOIN qual q USING (doc_id)
    ),
    surv AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
               ORDER BY quality_score DESC, doc_id) AS rn
        FROM member
      ) WHERE rn = 1
    ),
    tk AS (
      SELECT doc_id, source,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    )
    SELECT tk.source,
           CAST(count(*) AS BIGINT) AS docs_total,
           CAST(count(s.doc_id) AS BIGINT) AS docs_surviving,
           CAST(sum(tk.n_tokens) AS BIGINT) AS tokens_total,
           CAST(coalesce(sum(CASE WHEN s.doc_id IS NOT NULL
                THEN tk.n_tokens END), 0) AS BIGINT) AS tokens_surviving,
           round(1.0 - coalesce(sum(CASE WHEN s.doc_id IS NOT NULL
                 THEN tk.n_tokens END), 0)
                 / CAST(sum(tk.n_tokens) AS DOUBLE), 6) AS savings_frac
    FROM tk LEFT JOIN surv s USING (doc_id)
    GROUP BY tk.source
    """,
)
def q_dedup_token_savings(spark, sf_dir):
    """The dedup ROI report: per source, token volume before vs after
    survivor selection — what deduplication actually saves in training
    tokens (and which sources are duplicate-heavy enough to warrant
    upstream fixes). Clusters and survivors come from the durable
    dedup index; token counts are one narrow pass."""
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        token_count,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        dedup_survivors_from_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    wh = dedup_index_for(spark, sf_dir)
    surv = dedup_survivors_from_index(spark, wh).select(
        "doc_id", F.lit(1).alias("_s")
    )
    tk = docs.select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return (
        tk.join(surv, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.count("_s").alias("docs_surviving"),
            F.sum("n_tokens").alias("tokens_total"),
            F.coalesce(
                F.sum(F.when(F.col("_s").isNotNull(), F.col("n_tokens"))),
                F.lit(0),
            ).alias("tokens_surviving"),
        )
        .select(
            "source",
            "docs_total",
            "docs_surviving",
            "tokens_total",
            "tokens_surviving",
            F.round(
                1.0
                - F.col("tokens_surviving")
                / F.col("tokens_total").cast("double"),
                6,
            ).alias("savings_frac"),
        )
    )


@query(
    "shard_cluster_colocation",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES.strip()},
    {_QUALITY_CTE.strip()},
    member AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score
      FROM clusters c JOIN qual q USING (doc_id)
    ),
    surv AS (
      SELECT cluster_id, doc_id AS surv_doc FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
               ORDER BY quality_score DESC, doc_id) AS rn
        FROM member
      ) WHERE rn = 1
    ),
    tk AS (
      SELECT doc_id,
             CASE WHEN length({_NORM}) = 0 THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    ),
    ctoks AS (
      SELECT c.cluster_id, sum(tk.n_tokens) AS cluster_tokens
      FROM clusters c JOIN tk USING (doc_id) GROUP BY c.cluster_id
    ),
    packed AS (
      SELECT s.cluster_id, s.surv_doc, ct.cluster_tokens,
             coalesce(sum(ct.cluster_tokens) OVER (ORDER BY s.surv_doc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS tokens_before
      FROM surv s JOIN ctoks ct USING (cluster_id)
    )
    SELECT c.doc_id,
           c.cluster_id,
           CAST(floor(p.tokens_before / 4000.0) AS INTEGER) AS shard_id
    FROM clusters c JOIN packed p USING (cluster_id)
    """,
)
def q_shard_cluster_colocation(spark, sf_dir):
    """Near-dup-AWARE shard packing: whole duplicate clusters are
    assigned to shards (budgeted by the cluster's total tokens, packed
    in survivor-id order), so a near-dup family never straddles a
    shard boundary — the layout that keeps within-shard dedup exact
    and lets shard-local pipelines (tokenize-and-pack, loss masking)
    see every duplicate of a document together.

    Scale: cluster token sums are one groupBy; packing runs over the
    CLUSTER table (already ~corpus/dup-factor) via the distributed
    prefix sum; members inherit their cluster's shard through one
    equi-join. The oracle states the naive global window."""
    from commercial_rfp_data_pipeline_spark.operators.ordered import (
        distributed_prefix_sum,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        token_count,
    )
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        dedup_index_for,
    )
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        dedup_survivors_from_index,
        dedup_tables,
    )

    docs = load_table(spark, sf_dir, "documents")
    wh = dedup_index_for(spark, sf_dir)
    _, clusters = dedup_tables(spark, wh)
    surv = dedup_survivors_from_index(spark, wh).select(
        "cluster_id", F.col("doc_id").alias("surv_doc")
    )
    tk = docs.select("doc_id", token_count("text").alias("n_tokens"))
    ctoks = (
        clusters.join(tk, "doc_id")
        .groupBy("cluster_id")
        .agg(F.sum("n_tokens").alias("cluster_tokens"))
    )
    packed = distributed_prefix_sum(
        surv.join(ctoks, "cluster_id"),
        {"t": F.col("cluster_tokens")},
        order_by=[F.col("surv_doc")],
    ).select(
        "cluster_id",
        F.floor(F.col("t_before") / 4000.0).cast("int").alias("shard_id"),
    )
    return clusters.join(packed, "cluster_id").select(
        "doc_id", "cluster_id", "shard_id"
    )


# DSIR importance resampling and multilingual temperature sampling ------
#
# DSIR (Xie et al., "Data Selection for Language Models via Importance
# Resampling", NeurIPS 2023) scores every raw-pool document by how
# target-domain-like its n-gram feature distribution is -- the sum over
# the doc's features of log(p_target(f) / p_raw(f)) under Laplace-
# smoothed feature LMs -- and keeps the top-K: the selection step a
# pretraining pipeline runs to up-weight quality-domain-like data without
# a trained classifier. The target domain is the corpus's 'en' slice and
# the features are the word-3-gram shingles the dedup family indexes
# (served from the durable token-index artifact).
#
# Numeric discipline: each feature's log-ratio is rounded to 6 dp and
# cast DECIMAL before the per-document sum, so the sum is
# order-independent and bit-identical across engines; ranking ties
# break on doc_id.

_DSIR_TOPK = 100
_DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance_resample",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    dfreq AS (SELECT sh, count(*) AS cs FROM sh GROUP BY sh),
    tgt AS (
      SELECT s.sh, count(*) AS ct
      FROM sh s JOIN documents d USING (doc_id)
      WHERE d.lang = '{_DSIR_TARGET_LANG}'
      GROUP BY s.sh
    ),
    tot AS (
      SELECT (SELECT count(*) FROM dfreq) AS v,
             (SELECT sum(cs) FROM dfreq) AS ns,
             (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt
    ),
    terms AS (
      SELECT f.sh,
             CAST(round(ln(
               ((coalesce(t.ct, 0) + 1) / CAST(tot.nt + tot.v AS DOUBLE))
               / ((f.cs + 1) / CAST(tot.ns + tot.v AS DOUBLE))
             ), 6) AS DECIMAL(12,6)) AS w
      FROM dfreq f LEFT JOIN tgt t ON t.sh = f.sh CROSS JOIN tot
    ),
    docw AS (
      SELECT s.doc_id, count(*) AS n_toks, sum(w) AS wsum
      FROM sh s JOIN terms USING (sh) GROUP BY s.doc_id
    )
    SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(wsum AS DOUBLE) AS dsir_weight,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT w.doc_id, d.lang, w.n_toks, w.wsum,
             row_number() OVER (ORDER BY w.wsum DESC, w.doc_id) AS rnk
      FROM docw w JOIN documents d USING (doc_id)
    )
    WHERE rnk <= {_DSIR_TOPK}
    """,
)
def q_dsir_importance_resample(spark, sf_dir):
    """DSIR importance resampling over the raw pool: per-document
    target-likeness = sum over the doc's DISTINCT 3-gram features of
    round(ln(p_target(f) / p_raw(f)), 6), with Laplace-smoothed
    feature LMs (counts are document frequencies; the vocabulary is
    the corpus's distinct feature set). Top-100 selected,
    deterministic doc_id tiebreak; lang rides along so the report
    shows the target slice dominating — the sanity a data curator
    checks first.

    Scale: features and df come from the durable token-index artifact
    (one parquet read); the target counts are one semi-joined groupBy;
    the per-feature term table is vocabulary-sized (broadcastable
    totals via one-row aggregates, never a driver collect); the
    per-doc sum is one map-side-combining groupBy over the postings;
    selection is orderBy().limit() -> TakeOrderedAndProject, with the
    rank window applied AFTER the limit (the registry's limit-first
    discipline)."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_token_index,
    )

    toks, dft, _ = ensure_token_index(spark, sf_dir, k=3)
    docs = load_table(spark, sf_dir, "documents")
    tgt = (
        toks.join(
            docs.filter(F.col("lang") == _DSIR_TARGET_LANG).select("doc_id"),
            "doc_id",
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = (
        dft.agg(
            F.count(F.lit(1)).alias("v"), F.sum("df").alias("ns")
        )
        .crossJoin(
            F.broadcast(
                tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
            )
        )
    )
    terms = (
        dft.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        / (F.col("nt") + F.col("v")).cast("double")
                    )
                    / (
                        (F.col("df") + 1)
                        / (F.col("ns") + F.col("v")).cast("double")
                    )
                ),
                6,
            )
            .cast("decimal(12,6)")
            .alias("w"),
        )
    )
    docw = (
        toks.join(terms, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("w").alias("wsum"),
        )
    )
    top = (
        docw.join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("wsum").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )
    w = Window.orderBy(F.col("wsum").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "doc_id",
        "lang",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.col("wsum").cast("double").alias("dsir_weight"),
        "rnk",
    )


_TEMP_ALPHA = 0.3


@query(
    "multilingual_sampling_temperature",
    f"""
    WITH {{SH}},
    tokmass AS (
      SELECT d.lang, count(DISTINCT d.doc_id) AS n_docs, count(*) AS n_toks
      FROM sh s JOIN documents d USING (doc_id)
      GROUP BY d.lang
    ),
    tot AS (SELECT sum(n_toks) AS nt FROM tokmass),
    r AS (
      SELECT lang, n_docs, n_toks,
             n_toks / CAST(tot.nt AS DOUBLE) AS p_raw,
             CAST(round(pow(n_toks / CAST(tot.nt AS DOUBLE), {_TEMP_ALPHA}),
                        9) AS DECIMAL(12,9)) AS rw
      FROM tokmass CROSS JOIN tot
    ),
    rs AS (SELECT sum(rw) AS rsum FROM r)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_toks AS BIGINT) AS n_toks,
           round(p_raw, 6) AS p_raw,
           round(CAST(rw AS DOUBLE) / CAST(rs.rsum AS DOUBLE), 6) AS q_temp,
           round((CAST(rw AS DOUBLE) / CAST(rs.rsum AS DOUBLE)) / p_raw, 4)
             AS upsample_factor
    FROM r CROSS JOIN rs
    """.replace("{SH}", _SHINGLES_CTE.strip()),
)
def q_multilingual_sampling_temperature(spark, sf_dir):
    """Temperature-scaled multilingual sampling weights (Conneau et
    al. XLM-R / mT5: q_l proportional to p_l^alpha, alpha = 0.3): the
    per-language sampling distribution a multilingual pretraining run
    uses to up-sample low-resource languages without drowning the
    high-resource ones. p_l = language share of indexable token mass
    (the durable token-index postings — the same unit the retrieval
    family serves); reports raw share, tempered share, and the
    realized up/down-sampling factor per language.

    Numeric discipline: pow(p, 0.3) is rounded to 9 dp and cast
    DECIMAL before the normalizing sum (order-independent, exact);
    final shares round to 6 dp — the same libm-boundary containment
    the Wilson/RA scores use.

    Scale: one groupBy(lang) over the postings (5 rows out), two
    broadcast one-row totals — corpus-sized work is a single
    map-side-combining aggregate of the artifact."""
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        ensure_token_index,
    )

    toks, _, _ = ensure_token_index(spark, sf_dir, k=3)
    docs = load_table(spark, sf_dir, "documents")
    mass = (
        toks.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_toks"),
        )
    )
    tot = mass.agg(F.sum("n_toks").alias("nt"))
    r = mass.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_toks",
        (F.col("n_toks") / F.col("nt").cast("double")).alias("p_raw"),
        F.round(
            F.pow(
                F.col("n_toks") / F.col("nt").cast("double"),
                F.lit(_TEMP_ALPHA),
            ),
            9,
        )
        .cast("decimal(12,9)")
        .alias("rw"),
    )
    rs = r.agg(F.sum("rw").alias("rsum"))
    return r.crossJoin(F.broadcast(rs)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_toks").cast("long").alias("n_toks"),
        F.round("p_raw", 6).alias("p_raw"),
        F.round(
            F.col("rw").cast("double") / F.col("rsum").cast("double"), 6
        ).alias("q_temp"),
        F.round(
            (F.col("rw").cast("double") / F.col("rsum").cast("double"))
            / F.col("p_raw"),
            4,
        ).alias("upsample_factor"),
    )
