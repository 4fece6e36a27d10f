"""Parquet-first I/O helpers + warehouse lifecycle.

Mirrors the reference's storage semantics Spark-first:
- overwrite-rebuild sinks (reference truncates the output container
  before each write — commercial_rfp_content_doc_library_creation.py:81-84)
  become ``mode("overwrite")``;
- stage-to-stage handoff through named tables (the reference round-trips
  Excel blobs between stages) becomes parquet round-trips through a
  warehouse dir, or direct lazy DataFrame flow when no re-discovery
  semantics are exercised;
- idempotent DDL ensure-exists (commercial_rfp_indexer.py:67-83,153-159)
  becomes ``ensure_table``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_PINNED: list[DataFrame] = []
_PINNED_BY_KEY: dict[str, DataFrame] = {}


def pin(df: DataFrame, key: str | None = None) -> DataFrame:
    """Persist a build product (LSH band table, simhash fingerprints,
    IVF centroids, pruned inverted index) and track it for explicit
    release. Operators persist intermediates that multiple plan
    branches read; since the operator returns a LAZY DataFrame there is
    no in-function point where unpersist is safe — the discipline is a
    session-level release point instead: harnesses call
    ``release_pinned()`` between queries (bench.py, verify_local), and
    a session-scoped pytest fixture does the same.

    ``key`` (defaulting to the caller's module:function:line, so two
    pins inside one function stay distinct) additionally
    dedups ACROSS calls: a repeat pin from the same producer unpersists
    the previous build product first, so long-lived library sessions
    that call jaccard_pairs/simhash_pairs/ivf_search repeatedly hold at
    most one pinned product per producer instead of accumulating
    storage-memory leaks."""
    if key is None:
        import inspect

        frame = inspect.currentframe().f_back
        key = (
            f"{frame.f_globals.get('__name__', '?')}:"
            f"{frame.f_code.co_name}:{frame.f_lineno}"
        )
    old = _PINNED_BY_KEY.pop(key, None)
    if old is not None:
        old.unpersist()
        try:
            _PINNED.remove(old)
        except ValueError:
            pass
    df = df.persist()
    _PINNED_BY_KEY[key] = df
    _PINNED.append(df)
    return df


def pin_eager(df: DataFrame, key: str | None = None) -> DataFrame:
    """``pin`` + immediate materialization (one count job). Use at the
    STAGE BOUNDARIES of composed multi-stage pipelines: downstream
    stages that run their own internal actions (fixpoint loops, range-
    partitioner sampling, prefix-sum offset collection) otherwise each
    drag the un-materialized upstream plan through planning again —
    measured 2.7x slower than materializing the boundary once. This is
    exactly what a production run does when it writes the cleaned
    corpus between stages; count() is the in-memory equivalent."""
    if key is None:
        import inspect

        frame = inspect.currentframe().f_back
        key = (
            f"{frame.f_globals.get('__name__', '?')}:"
            f"{frame.f_code.co_name}:{frame.f_lineno}"
        )
    out = pin(df, key=key)
    out.count()
    return out


def release_pinned() -> None:
    """Unpersist every pinned build product (see ``pin``)."""
    _PINNED_BY_KEY.clear()
    while _PINNED:
        _PINNED.pop().unpersist()


# the session confs that steer parquet schema inference: the same files
# infer a different schema when any of them changes
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# real paths -> ((inference confs, file signature), inferred schema);
# one entry per path tuple, replaced on any miss
_SCHEMAS: dict[tuple[str, ...], tuple[tuple, StructType]] = {}


def _file_signature(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every file under ``path``; a
    single-file table is its own signature. Any rewrite, addition or
    removal of a file changes it."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    sig = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """The package's one batch parquet read: ``spark.read.parquet``
    without the schema-inference job on a repeat read.

    ``spark.read.parquet(path)`` launches a Spark job to read footers
    and infer the schema on every call. This keeps Spark's own inferred
    schema per path, stamped with the inference confs and the file
    signature (``_file_signature``), and serves a repeat read as
    ``spark.read.schema(cached).parquet(path)``, which launches no job.
    The schema is the one Spark inferred, so plans and results do not
    change; changed files or confs miss and infer again. Non-local URIs
    cannot be listed cheaply and missing paths must raise Spark's own
    error, so both go straight to ``spark.read.parquet``."""
    if any("://" in p or not os.path.exists(p) for p in paths):
        return spark.read.parquet(*paths)
    key = tuple(os.path.realpath(p) for p in paths)
    try:
        stamp = (
            tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
            tuple(_file_signature(p) for p in key),
        )
    except OSError:  # a file vanished mid-listing: a writer is active
        return spark.read.parquet(*paths)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(*paths)
    df = spark.read.parquet(*paths)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    ``events.ts`` is physically TIMESTAMP(NANOS) which the Spark parquet
    reader rejects — read it as raw nanos (legacy conf) and convert to
    a micros TIMESTAMP_NTZ column (values are micro-aligned; truncation
    is lossless and matches DuckDB's ns->us comparison semantics)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        # get_spark sets this in the builder; re-assert here because the
        # external driver constructs its own SparkSession that bypasses
        # our builder, and the flag must be live before the scan plans.
        # Idempotent, read at planning time — safe mid-session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
        if dict(df.dtypes).get("ts") in ("bigint", "long"):
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        return df
    return read_parquet(spark, path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Read the testdata tables and register each as a temp view so the
    SQL API sees the same catalog the DuckDB oracle does."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def save_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Overwrite-rebuild sink (K1/K4). partition_by gives partition
    pruning on downstream scans — at 100 TB, date/key partitioning is the
    first-order scan-cost lever."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def ensure_table(spark: SparkSession, path: str, builder, name: str | None = None) -> DataFrame:
    """Idempotent ensure-exists: if ``path`` has no parquet footer yet,
    materialize ``builder()`` there; always return a reader on it.
    Mirrors the reference's create-if-absent DDL lifecycle."""
    try:
        df = read_parquet(spark, path)
    except Exception:
        builder().write.mode("overwrite").parquet(path)
        df = read_parquet(spark, path)
    if name:
        df.createOrReplaceTempView(name)
    return df


def save_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_partitions: int | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Globally-ordered parquet layout: repartitionByRange (sampled
    range bounds — a distributed range exchange, never a single-node
    global sort) + sortWithinPartitions, so files cover DISJOINT key
    ranges and rows are sorted inside each. Parquet min/max column
    stats then prune whole files and row groups for range predicates —
    the single-dimension locality layout (time-series by date, logs by
    ts) that turns a 100-TB scan of a narrow date window into a few
    file reads. Complements ``save_bucketed`` (hash-colocated joins)
    with range-colocated scans."""
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .options(**(options or {}))
        .parquet(path)
    )


def save_bucketed(
    df: DataFrame,
    name: str,
    keys: list[str],
    n_buckets: int = 8,
    sort_by: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table — the
    co-located-join primitive: two tables bucketed on the same keys
    with the same bucket count join WITHOUT any Exchange (and without
    a Sort when sortBy matches), because rows are already hash-placed
    by key on disk. At 100 TB this converts every recurring fact-fact
    join on the bucket keys from a full shuffle into a local zip —
    the write-once shuffle is amortized over all downstream joins.
    (test_plan_shapes asserts the exchange-free plan.)"""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *keys)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(name)


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_letter(i: int) -> str:
    """0-based column index -> A1-style letters."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _write_xlsx_minimal(header: list[str], rows: list[tuple], path: str) -> None:
    """Minimal OOXML writer (xlsx = zipped XML): one sheet, inline
    strings, numbers as numeric cells. Fallback for containers without
    openpyxl — readable by Excel/pandas/openpyxl and by the reader
    below."""
    import zipfile
    from xml.sax.saxutils import escape

    def cell(ri: int, ci: int, v) -> str:
        ref = f"{_col_letter(ci)}{ri + 1}"
        if v is None:
            return ""
        if isinstance(v, bool):
            # native boolean cell (t="b"), not the string 'True' — keeps
            # the round-trip schema identical with and without openpyxl
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, float) and v != v:  # NaN: blank cell, like None
            return ""
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is>'
            f'<t xml:space="preserve">{escape(str(v))}</t></is></c>'
        )

    body = "".join(
        f'<row r="{ri + 1}">'
        + "".join(cell(ri, ci, v) for ci, v in enumerate(row))
        + "</row>"
        for ri, row in enumerate([tuple(header)] + list(rows))
    )
    decl = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    ct = (
        f'{decl}<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    rels = (
        f'{decl}<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    wb = (
        f'{decl}<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        f'{decl}<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    sheet = (
        f'{decl}<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{body}</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def _read_xlsx_minimal(path_or_bytes) -> tuple[list[str], list[list]]:
    """Minimal OOXML reader: first worksheet, supports inline strings,
    shared strings, and numeric cells. Returns (header, rows) with
    row 0 promoted to header (the reference's S4 rule)."""
    import io as _io
    import zipfile
    import xml.etree.ElementTree as ET

    src = (
        _io.BytesIO(path_or_bytes)
        if isinstance(path_or_bytes, (bytes, bytearray))
        else path_or_bytes
    )
    with zipfile.ZipFile(src) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t"))
                for si in root.iter(f"{_XLSX_NS}si")
            ]
        sheet_name = sorted(
            n for n in z.namelist() if n.startswith("xl/worksheets/sheet")
        )[0]
        root = ET.fromstring(z.read(sheet_name))
    grid: list[list] = []
    for row in root.iter(f"{_XLSX_NS}row"):
        cells: dict[int, object] = {}
        for c in row.iter(f"{_XLSX_NS}c"):
            ref = c.get("r", "A1")
            ci = 0
            for ch in ref:
                if ch.isalpha():
                    ci = ci * 26 + (ord(ch.upper()) - 64)
            ci -= 1
            kind = c.get("t", "n")
            if kind == "inlineStr":
                val = "".join(t.text or "" for t in c.iter(f"{_XLSX_NS}t"))
            else:
                v = c.find(f"{_XLSX_NS}v")
                raw = v.text if v is not None else None
                if raw is None:
                    val = None
                elif kind == "s":
                    val = shared[int(raw)]
                elif kind == "str":
                    val = raw
                elif kind == "b":
                    val = raw == "1"
                else:
                    # integral numerics come back as int (xlsx stores all
                    # numbers as doubles) so the inferred Spark schema
                    # matches the openpyxl path: long, not double
                    f = float(raw)
                    val = int(f) if f.is_integer() else f
            cells[ci] = val
        width = max(cells) + 1 if cells else 0
        grid.append([cells.get(i) for i in range(width)])
    width = max((len(r) for r in grid), default=0)
    grid = [r + [None] * (width - len(r)) for r in grid]
    header = [str(c) for c in (grid[0] if grid else [])]
    return header, grid[1:]


def read_excel_bridge(spark: SparkSession, path_or_bytes) -> DataFrame:
    """Excel -> DataFrame (S2). Core Spark has no Excel source; the
    reference reads with openpyxl driver-side
    (commercial_rfp_raw_data_ingestion_and_cleaning.py:286). Excel files
    are small config/landing artifacts — driver-side pandas then
    parallelize is the right scale call; bulk data rides parquet.
    Falls back to the minimal OOXML reader when openpyxl is absent."""
    import pandas as pd  # local import: optional path

    try:
        import openpyxl  # noqa: F401

        pdf = pd.read_excel(path_or_bytes, engine="openpyxl")
    except ImportError:
        header, rows = _read_xlsx_minimal(path_or_bytes)
        pdf = pd.DataFrame(rows, columns=header)
    pdf.columns = [str(c) for c in pdf.columns]
    return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None))


def write_excel_bridge(df: DataFrame, path: str) -> None:
    """DataFrame -> Excel (K1). Driver-side by design: Excel is not a
    distributed format; this sink exists for reference parity only.
    Falls back to the minimal OOXML writer when openpyxl is absent."""
    pdf = df.toPandas()
    try:
        import openpyxl  # noqa: F401

        pdf.to_excel(path, index=False)
    except ImportError:
        _write_xlsx_minimal(
            [str(c) for c in pdf.columns],
            [tuple(r) for r in pdf.itertuples(index=False)],
            path,
        )


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """Keyed batch MERGE into a parquet table: rows in ``updates``
    replace same-key rows in the store; new keys append. Plain-parquet
    engines express this as read → anti-join → union → rewrite (what
    Delta/Iceberg MERGE compiles to without a transaction log); the
    anti-join is key-only, so the shuffle carries (key) pairs plus the
    surviving payload once.

    Write-then-swap: the merged table lands in a sibling ``_tmp`` dir
    and replaces the target only after a successful write, so a failed
    job never destroys the current table (the no-log equivalent of a
    committed overwrite; production uses a table format's atomic
    commit). The updates frame is materialized BEFORE the swap via the
    tmp write itself — no extra action.

    Precondition: ``updates`` must be key-unique (standard MERGE
    contract — dedup upstream with ``dedup_keep_last`` if unsure);
    duplicate update keys would all land."""
    import os as _os
    import shutil

    tmp = path.rstrip("/") + "_tmp"
    if _os.path.exists(path):
        current = read_parquet(spark, path)
        merged = current.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        ).unionByName(updates)
    else:
        merged = updates
    merged.write.mode("overwrite").parquet(tmp)
    if _os.path.exists(path):
        shutil.rmtree(path)
    _os.rename(tmp, path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet table into files sized
    for the scan path (~one row-group stack per task). Streaming
    ingest and fine-grained partitionBy writes leave thousands of tiny
    files; at 100 TB that turns every scan into a metadata storm and
    defeats maxPartitionBytes packing. Sizing uses the table's actual
    on-disk bytes (no data read), then one coalesce-free repartition
    rewrite through a tmp-swap. Returns the new file count.

    Note: rewrites FLAT layouts; a hive-partitioned table would come
    back flattened (partition columns become data columns) — compact
    each partition directory independently instead."""
    import os as _os
    import shutil

    total = 0
    for root, _dirs, files in _os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += _os.path.getsize(_os.path.join(root, f))
    n_files = max(1, -(-total // target_file_bytes))  # ceil
    tmp = path.rstrip("/") + "_compact_tmp"
    read_parquet(spark, path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    shutil.rmtree(path)
    _os.rename(tmp, path)
    return n_files


MERGEABLE_AGGS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def merge_agg_state(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_cols: list[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Incrementally-maintained aggregate table: fold ONE new batch of
    facts into a persisted per-key aggregate state without rescanning
    history — the batch mirror of streaming state stores, and the way
    a 100-TB rollup stays cheap to refresh (each refresh touches the
    delta plus the key-sized state table, never the fact history).

    ``measures`` maps output column -> (agg, source_col) where agg is
    one of sum/count/min/max — the MERGEABLE aggregates whose partial
    states combine associatively (count partials merge by SUM). Derived
    non-mergeable stats (avg = sum/count) belong at READ time, which is
    why avg is deliberately absent.

    Shape: one map-side-combining groupBy over the batch, one key
    groupBy merging (state ∪ partial), tmp-dir swap write (same crash
    discipline as ``upsert_table``). Returns the merged state."""
    import os as _os
    import shutil

    aggs = []
    for out, (agg, src) in measures.items():
        if agg not in MERGEABLE_AGGS:
            raise ValueError(
                f"merge_agg_state: {agg!r} is not mergeable; "
                f"use one of {sorted(MERGEABLE_AGGS)} (avg = sum/count at read)"
            )
        col = F.count(F.lit(1)) if agg == "count" else F.__dict__[agg](src)
        aggs.append(col.alias(out))
    partial = batch.groupBy(*key_cols).agg(*aggs)
    if _os.path.exists(path):
        state = read_parquet(spark, path)
        merge_aggs = [
            MERGEABLE_AGGS[agg if agg != "count" else "sum"](out).alias(out)
            for out, (agg, _src) in measures.items()
        ]
        merged = (
            state.unionByName(partial).groupBy(*key_cols).agg(*merge_aggs)
        )
    else:
        merged = partial
    tmp = path.rstrip("/") + "_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    if _os.path.exists(path):
        shutil.rmtree(path)
    _os.rename(tmp, path)
    return read_parquet(spark, path)


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction for a hive-partitioned table: each
    first-level ``key=value`` partition directory compacts
    independently (``compact_table`` on flat layouts would flatten the
    partition columns into data). Partitions keep their directory —
    readers' partition pruning is untouched — and only partitions whose
    file count exceeds their size-derived target are rewritten, so a
    mostly-compacted table costs almost nothing to re-run (the
    idempotent maintenance-job contract). Returns {partition: new file
    count} for the rewritten partitions."""
    import os as _os

    out: dict[str, int] = {}
    for entry in sorted(_os.listdir(path)):
        sub = _os.path.join(path, entry)
        if not (_os.path.isdir(sub) and "=" in entry):
            continue
        files = [
            f
            for f in _os.listdir(sub)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        total = sum(_os.path.getsize(_os.path.join(sub, f)) for f in files)
        n_target = max(1, -(-total // target_file_bytes))  # ceil
        if len(files) <= n_target:
            continue  # already compact — skip the rewrite entirely
        out[entry] = compact_table(spark, sub, target_file_bytes)
    return out


class AuditFailure(RuntimeError):
    """Raised by ``publish_audited`` when a staged write violates its
    constraints; carries {rule: n_violations} for the failing rules."""

    def __init__(self, violations: dict[str, int], staging: str):
        self.violations = violations
        self.staging = staging
        super().__init__(
            f"audit failed, target not published; staged data kept at "
            f"{staging} for inspection: {violations}"
        )


def publish_audited(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    constraints: dict[str, "Callable[[DataFrame], int]"],
) -> dict[str, int]:
    """Write-Audit-Publish: stage the write, audit WHAT WAS WRITTEN
    (the staged files re-read — auditing the input plan would miss
    write-path truncation/corruption), and only then atomically swap
    the staging dir into place. On any violation the CURRENT table is
    untouched and staging is kept for inspection — consumers never see
    a bad version. This is the Iceberg/Delta WAP workflow expressed on
    plain parquet with the same tmp-swap discipline as
    ``upsert_table``.

    ``constraints`` maps rule name -> callable returning the VIOLATION
    COUNT over the staged DataFrame (0 = pass) — compose them from the
    same anti-join/groupBy shapes as the ``data_quality_audit`` query.
    Returns {rule: 0} on success."""
    import os as _os
    import shutil

    staging = path.rstrip("/") + "_staging"
    df.write.mode("overwrite").parquet(staging)
    staged = read_parquet(spark, staging)
    results = {rule: int(fn(staged)) for rule, fn in constraints.items()}
    bad = {r: n for r, n in results.items() if n != 0}
    if bad:
        raise AuditFailure(bad, staging)
    if _os.path.exists(path):
        shutil.rmtree(path)
    _os.rename(staging, path)
    return results


def commit_version(spark: SparkSession, table_dir: str, df: DataFrame) -> int:
    """Versioned table commit (time travel on plain parquet): each
    commit writes a new immutable ``v=<n>`` directory, then atomically
    publishes it by rewriting a tiny ``_latest`` pointer file — the
    Iceberg/Delta snapshot discipline without the table format. Old
    versions stay readable until explicitly expired; a crashed writer
    leaves at worst an unreferenced directory (the pointer flips only
    after the data is fully written). Returns the new version number."""
    import json as _json
    import os as _os

    _os.makedirs(table_dir, exist_ok=True)
    versions = [
        int(d.split("=", 1)[1])
        for d in _os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    new_v = max(versions, default=0) + 1
    vdir = _os.path.join(table_dir, f"v={new_v}")
    df.write.mode("overwrite").parquet(vdir)
    pointer = _os.path.join(table_dir, "_latest")
    tmp = pointer + ".tmp"
    with open(tmp, "w") as f:
        _json.dump({"version": new_v}, f)
    _os.replace(tmp, pointer)  # atomic on POSIX — the commit point
    return new_v


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a versioned table AS OF ``version`` (default: the
    ``_latest`` pointer). Reading an old version after newer commits
    is exact time travel — snapshots are immutable."""
    import json as _json
    import os as _os

    if version is None:
        with open(_os.path.join(table_dir, "_latest")) as f:
            version = int(_json.load(f)["version"])
    return read_parquet(spark, _os.path.join(table_dir, f"v={version}"))


def expire_versions(table_dir: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` versions
    (never the one ``_latest`` points to). Returns expired numbers."""
    import json as _json
    import os as _os
    import shutil

    with open(_os.path.join(table_dir, "_latest")) as f:
        latest = int(_json.load(f)["version"])
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in _os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    to_drop = [v for v in versions[:-keep_last] if v != latest]
    for v in to_drop:
        shutil.rmtree(_os.path.join(table_dir, f"v={v}"))
    return to_drop
