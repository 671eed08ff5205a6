"""Testdata table loader (parquet) — the rebuild's batch source layer.

The reference's sources are Kafka topics (kafka_monitor.py:270-314);
batch-side the equivalent is a parquet/Iceberg scan with schema applied.
Column pruning + predicate pushdown reach the scan automatically
(verify with .explain → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
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
]

# path → (mtime, (row_groups, rows, bytes)): footer probe is pure
# metadata, a few KB per file; cached so repeated load_table calls
# (bench reps, the driver's 50-query sweep) stat the footer once.
# A rewritten file replaces its entry, so the cache holds one entry
# per path however often the file changes.
_FOOTER_CACHE: dict = {}

# Mean uncompressed bytes/row above which a row-group-starved table is
# worth repartitioning before compute (see load_table).
_SPREAD_MIN_ROW_BYTES = 128


def _splittable_units(path: str) -> tuple[int, int, float]:
    """(total row groups, total rows, mean uncompressed bytes/row)
    across the parquet file(s) at ``path`` — a parquet scan task cannot
    split BELOW a row group, so the row-group count is the table's
    maximum scan parallelism no matter what
    ``spark.sql.files.maxPartitionBytes`` says."""
    files = [path] if os.path.isfile(path) else glob.glob(
        os.path.join(path, "*.parquet")
    )
    rgs = rows = nbytes = 0
    for f in files:
        mtime = os.path.getmtime(f)
        cached = _FOOTER_CACHE.get(f)
        if cached is None or cached[0] != mtime:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(f).metadata
            cached = _FOOTER_CACHE[f] = (mtime, (
                md.num_row_groups,
                md.num_rows,
                sum(md.row_group(i).total_byte_size
                    for i in range(md.num_row_groups)),
            ))
        r, n, b = cached[1]
        rgs += r
        rows += n
        nbytes += b
    return rgs, rows, (nbytes / rows if rows else 0.0)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Parquet scan, with scan parallelism derived from the file's
    actual splittable structure (round-6, guide §6): the testdata
    parquets are written as ONE row group, so every document/event scan
    ran as a single task regardless of core count — 1/32 of the box for
    the expression-heavy text queries.  When the row-group count is
    below the cluster's parallelism and the table is big enough for the
    exchange to pay for itself, a round-robin repartition spreads rows
    across cores; the shuffled bytes are just the (small, compressed-
    source) table, orders of magnitude below the per-row compute it
    unlocks.  On a production table with hundreds of row groups per
    file the probe finds rgs ≥ parallelism and this is a no-op.

    The spread fires only for WIDE rows (≥ ``_SPREAD_MIN_ROW_BYTES``
    mean uncompressed bytes/row — document text, embedding vectors):
    for those, per-row expression work dwarfs the one-off shuffle
    (measured 27x on doc_repetition).  Narrow fact rows (events 22 B,
    lineitem 30 B) are the opposite regime — their aggregations are
    already shuffle-shaped, so repartitioning the full table first
    costs more than the single-task scan it replaces (measured 0.3-0.7x
    on the events-window queries).
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        p = spark.sparkContext.defaultParallelism
        try:
            rgs, rows, row_bytes = _splittable_units(f"{sf_dir}/{name}.parquet")
        except Exception:
            rgs, rows, row_bytes = 0, 0, 0.0
        if (
            0 < rgs < p
            and rows >= 32 * p
            and row_bytes >= _SPREAD_MIN_ROW_BYTES
        ):
            df = df.repartition(p)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    for t in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
