"""State retention — the TTL analogs.

Reference GC is TTL-everywhere: dupefilter keys idle-expire after 600 s
(crawler/crawling/settings.py:46, redis_dupefilter.py:27), throttle
zsets after 2×window (redis_throttled_queue.py:143,208), queue objects
after 3600 s (settings.py:97).  In the rebuild state lives in snapshot
tables, so TTL = a periodic retention job: filter-and-overwrite rows
older than the TTL horizon, then expire old snapshots (file GC).

At 10^10-row scale the overwrite is partition-local (bucket layout) and
in real Iceberg becomes a metadata-only partition drop when the table
is additionally partitioned by round-range.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scrapy_cluster_spark.config import DEFAULT_CONFIG, EngineConfig
from scrapy_cluster_spark.schemas import FETCH_LOG_SCHEMA, SEEN_SCHEMA
from scrapy_cluster_spark.store import SnapshotStore


def expire_seen(store: SnapshotStore, current_round: int,
                cfg: EngineConfig = DEFAULT_CONFIG) -> int:
    """Dupefilter TTL: drop seen rows older than dupefilter_timeout.

    The reference TTL is idle-based per crawlid; round-based age is the
    batch discretization (ttl_rounds = timeout / round_len — 10 rounds
    at defaults).  Returns rows kept.  With ``use_cuckoo`` the expired
    fingerprints are also deleted from the cuckoo sidecars."""
    ttl_rounds = max(1, cfg.dupefilter_timeout // cfg.round_len)
    horizon = current_round - ttl_rounds
    seen = store.read("seen", SEEN_SCHEMA)
    kept = seen.filter(F.col("seen_round") > F.lit(horizon))
    expired = seen.filter(F.col("seen_round") <= F.lit(horizon))
    store.overwrite("seen", kept, meta={"retention_round": current_round})
    if cfg.use_cuckoo and store.exists("cuckoos"):
        # the reason cuckoo exists: DELETE the expired fingerprints in
        # place (per-bucket cogroup) — no full rebuild from `kept`
        from scrapy_cluster_spark.operators.cuckoo import CUCKOO_SCHEMA, cuckoo_delete

        filters = store.read("cuckoos", CUCKOO_SCHEMA)
        store.overwrite(
            "cuckoos",
            cuckoo_delete(filters, expired, m=cfg.cuckoo_m, slots=cfg.cuckoo_slots),
            meta={"retention_round": current_round},
            coalesce=1,
        )
    n = store.count("seen")
    store.expire_snapshots("seen", keep_last=3)
    return n


def expire_fetch_log(store: SnapshotStore, current_round: int,
                     cfg: EngineConfig = DEFAULT_CONFIG) -> int:
    """Throttle-window GC: fetch_log rows older than 2×window are dead
    weight (redis_throttled_queue.py:143 keeps 2×window of hits)."""
    keep_rounds = max(1, (2 * cfg.queue_window) // cfg.round_len)
    log = store.read("fetch_log", FETCH_LOG_SCHEMA)
    kept = log.filter(F.col("round") > F.lit(current_round - keep_rounds))
    store.overwrite("fetch_log", kept, meta={"retention_round": current_round})
    n = store.count("fetch_log")
    store.expire_snapshots("fetch_log", keep_last=3)
    return n
