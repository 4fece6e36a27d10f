"""Multi-dimensional data-layout operators: Z-order (Morton)
clustering keys and the z-ordered parquet writer.

`io.save_sorted` gives single-dimension locality (files cover disjoint
ranges of ONE key, so min/max stats prune range scans on that key).
Queries that filter on EITHER of two keys — (part, supplier),
(tenant, date) — need locality in both at once; sorting by one
destroys the other. The Z-order curve interleaves the bits of the
keys, so a contiguous z-range is (approximately) a rectangle in key
space: every file then covers a SMALL range of BOTH columns and
parquet min/max stats prune scans on either dimension. Same layout
discipline as Delta/Iceberg `OPTIMIZE ZORDER BY`, built from
primitives: range-normalize, interleave (pure codegen), range-exchange
sort.

Normalization is load-bearing, not cosmetic: interleaving RAW values
with unequal magnitudes degenerates to a 1-D sort (the wider column's
high bits dominate every comparison and the narrow column never
splits — caught by the layout test). Each column is first scaled to a
fixed 16-bit domain via its (min, max) range — integer arithmetic, so
both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import read_parquet

# 16 bits per dimension after range normalization; 2 dims -> 32-bit
# keys, 3 dims -> 48-bit: always inside int64
ZBITS = 16
ZMASK = (1 << ZBITS) - 1


def scale_sql(col: str, lo: int, hi: int, dialect: str) -> str:
    """``col`` linearly mapped onto [0, 2^ZBITS - 1] by its (lo, hi)
    range — pure integer arithmetic (floor division), identical in
    both engines."""
    span = int(hi) - int(lo)
    if span <= 0:
        return "CAST(0 AS BIGINT)"
    base = f"(CAST({col} AS BIGINT) - {int(lo)}) * {ZMASK}"
    return f"({base} div {span})" if dialect == "spark" else f"({base} // {span})"


def interleave_sql(scaled: list[str], dialect: str) -> str:
    """Morton interleave of pre-scaled 16-bit expressions: bit i of
    column j lands at position i * n + j. Bit positions are disjoint,
    so the terms combine with plain + (identical to OR, portable)."""
    n = len(scaled)
    terms = []
    for i in range(ZBITS):
        for j, c in enumerate(scaled):
            pos = i * n + j
            if dialect == "spark":
                terms.append(f"shiftleft(shiftright({c}, {i}) & 1, {pos})")
            else:
                terms.append(f"((({c} >> {i}) & 1) << {pos})")
    return " + ".join(terms)


def zorder_key(
    df: DataFrame, cols: list[str], key_col: str = "zkey"
) -> DataFrame:
    """``df`` plus the Morton key over ``cols``: one tiny min/max
    aggregate fixes the per-column ranges (the same file-stats pass
    Delta's OPTIMIZE runs — a metadata-sized collect, the documented
    exception class), then scaling + interleave run as whole-stage-
    codegen expressions, no UDF, no shuffle."""
    r = df.agg(
        *[F.min(c).alias(f"lo_{j}") for j, c in enumerate(cols)],
        *[F.max(c).alias(f"hi_{j}") for j, c in enumerate(cols)],
    ).first()
    scaled_names = []
    out = df
    for j, c in enumerate(cols):
        name = f"__z{j}"
        out = out.withColumn(
            name, F.expr(scale_sql(c, r[f"lo_{j}"], r[f"hi_{j}"], "spark"))
        )
        scaled_names.append(name)
    out = out.withColumn(
        key_col, F.expr(interleave_sql(scaled_names, "spark"))
    )
    return out.drop(*scaled_names)


def zorder_oracle_cte(table: str, cols: list[str]) -> str:
    """DuckDB mirror: min/max CTE + the SAME scale/interleave loops.
    Returns a CTE body exposing ``{table}`` columns plus zkey."""
    los = ", ".join(f"min({c}) AS lo_{j}" for j, c in enumerate(cols))
    his = ", ".join(f"max({c}) AS hi_{j}" for j, c in enumerate(cols))
    scaled = [
        f"CASE WHEN hi_{j} = lo_{j} THEN CAST(0 AS BIGINT) "
        f"ELSE (CAST({c} AS BIGINT) - lo_{j}) * {ZMASK} // (hi_{j} - lo_{j}) END"
        for j, c in enumerate(cols)
    ]
    names = [f"s_{j}" for j in range(len(cols))]
    sel_scaled = ", ".join(f"{e} AS {n}" for e, n in zip(scaled, names))
    return f"""
    zr AS (SELECT {los}, {his} FROM {table}),
    zs AS (SELECT t.*, {sel_scaled} FROM {table} t CROSS JOIN zr),
    zkeyed AS (SELECT *, {interleave_sql(names, "duckdb")} AS zkey FROM zs)
    """


def save_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_partitions: int | None = None,
) -> None:
    """Write ``df`` z-ordered on ``cols``: normalized Morton key,
    range-exchange + sort on it (sampled bounds — never a single-node
    sort), key dropped, write. Every output file then covers a bounded
    rectangle of the key space, so min/max stats prune scans filtering
    on ANY of the z-ordered columns. At 100 TB this is the layout pass
    run after ingest compaction."""
    keyed = zorder_key(df, cols, key_col="__zkey")
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        keyed.repartitionByRange(n, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def optimize_table(
    spark,
    path: str,
    zorder_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """The maintenance pass a lakehouse runs as `OPTIMIZE ... ZORDER
    BY`: rewrite a (possibly fragmented) parquet table into
    scan-sized, z-ordered files in ONE job — compaction and
    multi-dimensional clustering share the same read+rewrite, so they
    are never worth running separately. File count derives from the
    table's on-disk bytes (no data read for the sizing); the write
    goes through a tmp-dir swap (crash leaves the old table). Returns
    the new file count."""
    import os as _os
    import shutil

    total = 0
    for root, _dirs, files in _os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += _os.path.getsize(_os.path.join(root, f))
    n_files = max(1, -(-total // target_file_bytes))  # ceil
    tmp = path.rstrip("/") + "_opt_tmp"
    save_zordered(read_parquet(spark, path), tmp, zorder_cols, n_partitions=n_files)
    shutil.rmtree(path)
    _os.rename(tmp, path)
    return n_files
