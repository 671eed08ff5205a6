"""Engine configuration, mirroring the reference's throughput-defining
defaults (cites: /root/reference/crawler/crawling/settings.py).

The reference throttle is wall-clock and continuous; the rebuild is
round-based.  We pin ``round_len == window`` so the per-domain quota per
round equals ``hits`` exactly (BASELINE.md "Default politeness budget";
settings.py:39-40) and moderation becomes deterministic slot assignment
(redis_throttled_queue.py:58-65).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # Politeness budget — settings.py:39-43
    queue_hits: int = 10
    queue_window: int = 60
    queue_moderated: bool = True
    # Throttle scoping — settings.py:85-88 (SCHEDULER_TYPE_ENABLED / IP_ENABLED)
    throttle_type_enabled: bool = True
    throttle_ip_enabled: bool = False
    # Dupefilter retention (seconds) — settings.py:46 (DUPEFILTER_TIMEOUT)
    dupefilter_timeout: int = 600
    # Global per-domain page cap — settings.py:49 (None = off)
    global_page_per_domain_limit: int | None = None
    # Retry — settings.py:174 (RETRY_TIMES) + redis_retry_middleware.py:9-18
    retry_times: int = 3
    # Priority decay per depth / per retry — link_spider.py:68-69,
    # redis_retry_middleware.py:15 ("priority - 10")
    priority_decay: int = 10
    # Backlog blacklisted domains instead of dropping at enqueue —
    # settings.py:61 (SCHEDULER_BACKLOG_BLACKLIST)
    backlog_blacklist: bool = True
    # Round length in seconds (== queue_window; see module docstring)
    round_len: int = 60
    # Frontier physical layout: number of domain-hash buckets.
    # At 10^10 URLs this is the unit of partition pruning + cuckoo sidecars.
    frontier_buckets: int = 32
    # Hot-domain salting: two-phase top-k kicks in above this backlog
    salt_partitions: int = 8
    # Cuckoo sidecar pre-filter for the seen-probe (operators/cuckoo.py):
    # deletable, so retention removes expired fingerprints in place.
    # Identical output to the plain anti-join (A/B-tested e2e); off by
    # default because the anti-join measured faster at 2M-6M seen rows
    # (README "URL-seen membership").
    use_cuckoo: bool = False
    cuckoo_m: int = 1 << 16
    cuckoo_slots: int = 4
    # Frontier merge scope: True rewrites ONLY buckets the round
    # scheduled from or inserted into (store.overwrite_partitions —
    # Iceberg dynamic-partition MERGE analog, O(touched) per round);
    # False rewrites the whole table.  Content-identical (e2e A/B test);
    # at 10^10 URLs / 1024 buckets a politeness-bounded round touches a
    # fraction of the buckets, so partial is the scale default.
    frontier_partial_merge: bool = True
    # Snapshots retained by the maintenance pass's frontier GC
    # (expire_snapshots): resume only needs the last lineage-committed
    # version; the margin covers a compaction landing mid-crash.
    snapshot_keep_last: int = 5
    # Adaptive item materialization (plans/round.py): batches at or
    # above this row count stream straight into the crawled table's
    # files (write-through — no binary in the block manager, the
    # 4→16-core fix); smaller batches cache items and append crawled
    # concurrently (the write-through round-trip is pure fixed latency
    # at small sizes).  Like a broadcast threshold, decided per round
    # from the actual batch count.
    write_through_min_batch: int = 200_000
    # Compact append-only state tables every N rounds (0 = off): the
    # Iceberg rewrite_data_files maintenance analog — long crawls
    # accumulate one file set per round and scans become
    # file-open-bound (store.py compact docstring)
    compact_every: int = 0
    compact_min_files: int = 16
    # OPIC-style link-centrality scheduling (operators/rank_signal.py,
    # opt-in — the reference has no analog): URL PageRank over the
    # observed link graph refreshes every url_rank_every rounds
    # (maintenance cadence, 0 = never) and children inherit
    # round(weight × parent_rank/uniform) as an integer priority bump —
    # scale-free: an average-centrality parent boosts ≈ weight, a k×
    # hub ≈ k·weight, regardless of graph size.  Rank buys ORDER within
    # a domain's politeness budget, never extra hits.
    use_url_rank: bool = False
    url_rank_weight: float = 10.0
    url_rank_iters: int = 5
    url_rank_every: int = 5
    # Heartbeat liveness TTL (s) — the reference spider self-reports
    # ``stats:crawler:<host>:<spider>:<uuid>`` with expiry
    # ip_update_interval*2 = 120 s (distributed_scheduler.py:310-320)
    heartbeat_ttl: int = 120
    # Stats-API queue payload: max domains listed per spider queue (the
    # reference payload is unbounded — a driver OOM at 10^7 domains;
    # the cap keeps the collect bounded, remainder is summarized)
    stats_queue_domains_cap: int = 100
    # Request-schema defaults — kafka-monitor/plugins/scraper_schema.json
    default_spiderid: str = "link"
    default_priority: int = 1
    default_maxdepth: int = 0


DEFAULT_CONFIG = EngineConfig()

# Request JSON-Schema constraints (scraper_schema.json:1-98) used by the
# ingest validator (operators/ingest.py).
REQUEST_CONSTRAINTS = {
    "appid": {"min_len": 3, "max_len": 40},
    "crawlid": {"min_len": 1, "max_len": 40},
    "priority": {"min": 1, "max": 100},
    "maxdepth": {"min": 0, "max": 3},
    "domain_max_pages": {"min": 0, "max": 2000},
}
