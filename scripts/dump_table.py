"""Inspection CLI — the ``kafkadump.py`` analog
(/root/reference/kafka-monitor/kafkadump.py:1-187 tails Kafka topics;
here we tail snapshot-store tables).

Usage: python scripts/dump_table.py <store_root> <table> [n] [version]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from scrapy_cluster_spark import schemas  # noqa: E402
from scrapy_cluster_spark.operators.cuckoo import CUCKOO_SCHEMA  # noqa: E402
from scrapy_cluster_spark.operators.robots import ROBOTS_SCHEMA  # noqa: E402
from scrapy_cluster_spark.plans.round import PAGE_COUNTS_SCHEMA  # noqa: E402
from scrapy_cluster_spark.session import get_spark  # noqa: E402
from scrapy_cluster_spark.store import SnapshotStore  # noqa: E402

TABLE_SCHEMAS = {
    "frontier": schemas.FRONTIER_SCHEMA,
    "seen": schemas.SEEN_SCHEMA,
    "crawled": schemas.CRAWLED_SCHEMA,
    "fetch_log": schemas.FETCH_LOG_SCHEMA,
    "blacklist": schemas.BLACKLIST_SCHEMA,
    "crawl_jobs": schemas.CRAWL_JOBS_SCHEMA,
    "actions": schemas.ACTIONS_SCHEMA,
    "outbound": schemas.OUTBOUND_SCHEMA,
    "domain_config": schemas.DOMAIN_CONFIG_SCHEMA,
    "metrics": schemas.METRICS_SCHEMA,
    "heartbeats": schemas.HEARTBEATS_SCHEMA,
    "page_counts": PAGE_COUNTS_SCHEMA,
    "cuckoos": CUCKOO_SCHEMA,
    "robots_rules": ROBOTS_SCHEMA,
}


def dump(store: SnapshotStore, table: str, n: int = 20,
         version: int | None = None) -> str:
    """Render a table snapshot (header + showString) — session-agnostic
    so tests can drive it against a fixture store."""
    df = store.read(table, TABLE_SCHEMAS[table], version)
    header = (
        f"table={table} version={version or store.current_version(table)} "
        f"rows={df.count()}"
    )
    # jdf.showString(numRows, truncate, vertical) is what df.show prints
    return header + "\n" + df._jdf.showString(n, 80, False)


def main() -> None:
    root, table = sys.argv[1], sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    version = int(sys.argv[4]) if len(sys.argv) > 4 else None
    spark = get_spark(app_name="dump", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    print(dump(SnapshotStore(spark, root), table, n, version))
    spark.stop()


if __name__ == "__main__":
    main()
