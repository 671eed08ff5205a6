"""Pre-flight replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and an order-insensitive value hash.

The side parquets some queries hand to their oracles are rebuilt in a
fresh temporary directory on every run, so the check always exercises
the code that builds them.

Usage: python scripts/check_oracles.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from scrapy_cluster_spark.session import get_spark  # noqa: E402
from scrapy_cluster_spark.sources.tables import TESTDATA_TABLES  # noqa: E402


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def value_hash(rows: list[dict], cols: list[str]) -> str:
    cols = sorted(cols)
    lines = sorted("|".join(_norm_cell(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(sf_dir: str = "/root/testdata/sf0.01", only: str = "") -> int:
    """``only``: comma-separated query names for a targeted re-check."""
    side_dir = tempfile.mkdtemp(prefix="scs_side_")
    entrymod._side_path = lambda kind, sf: os.path.join(
        side_dir, f"scs_{kind}_v1_{os.path.basename(sf.rstrip('/')) or 'sf'}"
    )
    try:
        return _check(sf_dir, only)
    finally:
        shutil.rmtree(side_dir, ignore_errors=True)


def _check(sf_dir: str, only: str) -> int:
    spark = get_spark(app_name="oracle-check", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    if only:
        # tolerate the "only=a,b" spelling — the prefix otherwise
        # silently matches nothing
        wanted = set(only.removeprefix("only=").split(","))
        qs = {n: f for n, f in qs.items() if n in wanted}
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir)
        srows = [r.asDict() for r in sdf.collect()]
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows")
            continue
        ddf = con.execute(oracles[name]).fetchdf()
        drows = ddf.to_dict("records")
        dcols = list(ddf.columns)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sh = value_hash(srows, scols)
        dh = value_hash(drows, dcols) if ok_cols else "-"
        ok_hash = sh == dh
        status = "OK " if (ok_cols and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:28s} {status} rows {len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash {sh}/{dh}"
        )
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
