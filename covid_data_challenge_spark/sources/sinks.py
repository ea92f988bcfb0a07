"""Sinks (SURVEY.md §2.1 S5–S7).

The reference exports query results as CSV strings for dashboard download
(streamlit_app.py:651-657) and memoizes the pipeline result per session
(streamlit_app.py:46). Here:

- ``csv_export_string``: driver-side export of a SMALL result (the
  dashboard path) — caller is responsible for having reduced the data
  first; guarded by a row cap so nobody accidentally collects a fact table.
- ``write_csv`` / ``write_parquet``: distributed file sinks for scale;
  parquet is the "gold table" materialization replacing @st.cache_data.
  ``partition_by`` yields partition-pruned downstream scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def csv_export_string(df: DataFrame, max_rows: int = 100_000) -> str:
    """Serialize a small query result to a CSV string on the driver — one
    Spark job: at most ``max_rows + 1`` rows come back, and one too many
    raises."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"result exceeds {max_rows} rows — use write_csv() for distributed export"
        )
    return pdf.to_csv(index=False)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed CSV export (one file per partition)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Materialize a gold table; ``partition_by`` enables partition
    pruning for downstream readers."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC twin of :func:`write_parquet` — Spark's other native columnar
    gold format. Same partition-pruning, predicate-pushdown, and
    column-projection behavior at the scan (ORC carries min/max stride
    indexes like parquet row groups); pick it when the downstream
    ecosystem (Hive/Trino deployments) is ORC-first. Roundtrip equality
    and scan pushdown pinned in pytest."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """Scan an ORC gold table (predicates and projections push down
    exactly as with parquet)."""
    return spark.read.orc(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Overwrite ONLY the partitions present in ``df``, leaving every
    other partition untouched (``partitionOverwriteMode=dynamic``,
    scoped to this write).

    This is the idempotent-backfill primitive at 100 TB: re-running one
    day's pipeline replaces that day's directory atomically per
    partition instead of truncating the whole table (static overwrite)
    or appending duplicates."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ≈``target_file_bytes`` files and
    return the file count written.

    Streaming micro-batches and over-parallel writers leave thousands of
    tiny files; at 100 TB the per-file open/footer cost dominates scans
    and crushes the namenode. Compaction sizes the output from the
    ACTUAL input bytes (not a guessed partition count) and rewrites with
    a shuffle-free coalesce when shrinking. Run it per partition
    directory so only closed partitions rewrite."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(in_path)
    # coalesce (no shuffle) when shrinking; repartition only to grow
    out = df.coalesce(n_files) if df.rdd.getNumPartitions() >= n_files else df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_path)
    return int(n_files)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Materialize a catalog table bucketed (and sorted) on the join key.

    Bucketing is the pay-once answer to repeated fact-fact joins at scale:
    two tables bucketed on the same key with the same bucket count
    equi-join with ZERO exchanges — the shuffle happened at write time.
    At 100 TB, bucket the fact tables on their primary join key
    (orders/lineitem on orderkey) and every downstream join/aggregation on
    that key skips its shuffle. Requires the session catalog (saveAsTable),
    not a bare path — bucket metadata lives in the catalog.
    """
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    mode: str = "overwrite",
    num_files: int | None = None,
) -> None:
    """Materialize a gold table range-clustered and sorted on the scan
    key — the data-layout lever below partitioning.

    ``repartitionByRange`` clusters each key range into one file and
    ``sortWithinPartitions`` orders rows inside it, so every parquet
    row-group carries tight min/max statistics on ``sort_cols``. A
    selective predicate on the sort key then skips whole row groups
    (and with range-clustered files, whole files) at scan time — the
    poor man's zone map. At 100 TB this is the difference between
    reading a few row groups and reading the table: partition pruning
    handles the coarse key (e.g. day), sorted layout handles the fine
    key (e.g. user_id) inside each partition.
    """
    part = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    part.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def zorder_key(df: DataFrame, cols: list[str], bits_per_dim: int = 8) -> DataFrame:
    """Add a ``_zkey`` column: the Morton (Z-order) interleaving of each
    column's equal-width bucket index.

    1-D sorting gives tight zone maps on ONE key; clustering by the
    interleaved key gives *partial* locality on EVERY key — a range
    predicate on any single dimension touches ~N^((d-1)/d) of the files
    instead of all of them. This is the multi-dimensional layout lever
    (Databricks OPTIMIZE ZORDER, Iceberg sort orders) expressed as pure
    Column algebra: per-column min/max is a 1-row broadcast,
    ``width_bucket`` normalizes each value to ``2^bits_per_dim`` equal
    buckets, and the bit-interleave is a shiftleft/OR fold — no UDF, no
    extra shuffle beyond the final range partitioning.

    Equal-width bucketing keeps the key a pure per-row function (scan +
    one scalar broadcast). For heavily skewed columns substitute
    rank-based boundaries (``approx_percentile`` cut points) — same
    interleave, skew-proportional buckets.
    """
    n = 1 << bits_per_dim
    stats = df.agg(
        *[F.min(c).alias(f"_min_{c}") for c in cols],
        *[F.max(c).alias(f"_max_{c}") for c in cols],
    )
    out = df.join(F.broadcast(stats))
    zkey = F.lit(0)
    buckets = []
    for c in cols:
        b = F.width_bucket(
            F.col(c).cast("double"),
            F.col(f"_min_{c}").cast("double"),
            # half-open upper bound so max lands in bucket n-1, not n
            F.col(f"_max_{c}").cast("double") + 1e-9,
            F.lit(n),
        ) - 1
        buckets.append(F.coalesce(b, F.lit(0)).cast("int"))
    ndims = len(cols)
    for i in range(bits_per_dim):
        for d, b in enumerate(buckets):
            zkey = zkey.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * ndims + d)
            )
    return out.withColumn("_zkey", zkey).drop(
        *[f"_min_{c}" for c in cols], *[f"_max_{c}" for c in cols]
    )


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    mode: str = "overwrite",
    num_files: int | None = None,
    bits_per_dim: int = 8,
) -> None:
    """Materialize a gold table Z-order-clustered on ``cols``: range
    partition + sort on the Morton key, then drop it — the layout
    survives in the row-group statistics of every clustered column, so
    selective predicates on ANY of them skip files/row groups at scan
    time."""
    keyed = zorder_key(df, cols, bits_per_dim)
    part = (
        keyed.repartitionByRange(num_files, "_zkey")
        if num_files
        else keyed.repartitionByRange("_zkey")
    )
    part.sortWithinPartitions("_zkey").drop("_zkey").write.mode(mode).parquet(path)


def write_png_heatmap(
    df: DataFrame,
    row_col: str,
    col_col: str,
    val_col: str,
    path: str,
    cell_px: int = 8,
    max_cells: int = 100_000,
) -> tuple[int, int]:
    """S6 — the PNG sink, dependency-free: render a small (row, col,
    value) aggregate as a grayscale heatmap PNG using only stdlib
    ``zlib``/``struct`` (no matplotlib/PIL in this environment; PNG is
    signature + IHDR + zlib IDAT + IEND with CRC32s, all stdlib). The
    reference saves matplotlib figures (streamlit choropleth,
    streamlit_app.py:358-439); here the chart FEED is a distributed
    query (e.g. activity_heatmap's ≤168-cell aggregate, or
    choropleth_projection) and only the final pixel grid is a
    driver-side presentation step — the same bounded API-boundary
    contract as :func:`csv_export_string`, enforced by ``max_cells``.

    Shade 0 is reserved as the missing-data sentinel (absent or
    null-valued cells); present values are min-max scaled to 1..255
    (constant grids render mid-gray), so a real minimum is visually
    distinct from a hole in the feed. Each cell is a
    ``cell_px``×``cell_px`` block. The ``max_cells`` guard bounds both
    the collected row count AND the materialized grid extent
    (``nr*nc``) — a sparse feed whose coordinates span a huge range
    (e.g. epoch seconds) is rejected rather than allocating a
    multi-GB driver-side grid. Returns the (width, height) of the
    written image; the PNG round-trips through any decoder (pytest
    re-parses the chunks and zlib stream).
    """
    import struct
    import zlib

    rows = (
        df.select(
            F.col(row_col).cast("long").alias("r"),
            F.col(col_col).cast("long").alias("c"),
            F.col(val_col).cast("double").alias("v"),
        )
        .limit(max_cells + 1)
        .collect()
    )
    if len(rows) > max_cells:
        raise ValueError(
            f"heatmap feed exceeds {max_cells} cells — aggregate further "
            f"before rendering (this is a presentation sink, not an export)"
        )
    if not rows:
        raise ValueError("empty heatmap feed")
    r0 = min(r.r for r in rows)
    c0 = min(r.c for r in rows)
    nr = max(r.r for r in rows) - r0 + 1
    nc = max(r.c for r in rows) - c0 + 1
    if nr * nc > max_cells:
        raise ValueError(
            f"heatmap grid extent {nr}x{nc} exceeds {max_cells} cells — "
            f"sparse feed with outlier coordinates (bin the axes first)"
        )
    vals = [r.v for r in rows if r.v is not None]
    if not vals:
        raise ValueError("heatmap feed has no non-null values")
    lo, hi = min(vals), max(vals)
    # 0 = missing-data sentinel; data scales to 1..255
    grid = [[0] * nc for _ in range(nr)]
    for r in rows:
        if r.v is None:
            continue
        shade = 128 if hi == lo else 1 + int(round(254.0 * (r.v - lo) / (hi - lo)))
        grid[r.r - r0][r.c - c0] = shade
    width, height = nc * cell_px, nr * cell_px
    raw = bytearray()
    for gr in grid:
        scanline = bytearray()
        for shade in gr:
            scanline.extend(bytes([shade]) * cell_px)
        for _ in range(cell_px):
            raw.append(0)  # filter type 0 (None) per scanline
            raw.extend(scanline)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit gray
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + chunk(b"IEND", b"")
    )
    with open(path, "wb") as f:
        f.write(png)
    return width, height
