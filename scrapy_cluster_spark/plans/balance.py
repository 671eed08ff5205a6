"""Partition-balance diagnostics — the scale-readiness evidence.

At 10^10 rows one question that decides survival is whether the
frontier is evenly spread over its domain-hash buckets (partition
pruning and the per-bucket cuckoo sidecars assume so).  The metric
comes from parquet footers and is recorded alongside the bench so
every round's BENCH JSON carries the balance picture.
"""

from __future__ import annotations

import re
from collections import defaultdict

from scrapy_cluster_spark.store import SnapshotStore


def bucket_balance(store: SnapshotStore, table: str = "frontier") -> dict:
    """Rows per bucket=N partition dir, from footers only (no scan)."""
    import pyarrow.parquet as pq

    per_bucket: dict[int, int] = defaultdict(int)
    for f in store.files(table):
        m = re.search(r"bucket=(\d+)", f)
        if m:
            per_bucket[int(m.group(1))] += pq.ParquetFile(f).metadata.num_rows
    if not per_bucket:
        return {"buckets": 0}
    counts = sorted(per_bucket.values())
    n, total = len(counts), sum(counts)
    mean = total / n
    return {
        "buckets": n,
        "rows": total,
        "min": counts[0],
        "max": counts[-1],
        "mean": round(mean, 1),
        # max/mean is the straggler factor: the slowest bucket task does
        # this multiple of the average work
        "skew_ratio": round(counts[-1] / mean, 3) if mean else None,
    }

