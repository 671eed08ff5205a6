"""Round-3 control-plane fixes: consume-on-poll, collect-free mass
expiry, capped appid info, per-plugin stats fan-out, heartbeat-instance
dedup (round-2 verdict items 3-6 + ADVICE heartbeat finding)."""

import json

from pyspark.sql import functions as F

from scrapy_cluster_spark.config import EngineConfig
from scrapy_cluster_spark.operators.control import feed_action, poll_outbound, process_actions
from scrapy_cluster_spark.operators.stats import build_appid_info, build_stats_payload
from scrapy_cluster_spark.plans.crawl import feed_requests, run_crawl
from scrapy_cluster_spark.schemas import (
    CRAWL_JOBS_SCHEMA,
    FRONTIER_SCHEMA,
    HEARTBEATS_SCHEMA,
    METRICS_SCHEMA,
    OUTBOUND_SCHEMA,
)

CFG = EngineConfig()


def test_poll_consumes_result(store):
    """rest_service.py:667-673: /poll DELETEs the buffered result — the
    second poll of the same uuid returns None; other uuids survive."""
    feed_action(store, {"action": "zk-update", "uuid": "u-a", "domain": "a.com",
                        "hits": 5, "window": 60})
    feed_action(store, {"action": "zk-update", "uuid": "u-b", "domain": "b.com",
                        "hits": 5, "window": 60})
    process_actions(store, round_id=1)
    first = poll_outbound(store, "u-a")
    assert first is not None and first["action"] == "zk-update"
    assert poll_outbound(store, "u-a") is None  # consumed
    assert poll_outbound(store, "u-b") is not None  # untouched by u-a's poll


def test_mass_expiry_collect_free(store, spark):
    """10⁵ crawl_jobs expire in one pass with NO driver materialization
    of the target list (round-2 verdict "What's wrong #4"): targets and
    acks stay DataFrames; the only driver-side scalar is the expired
    count for the metrics row."""
    n_jobs = 100_000
    jobs = spark.range(n_jobs).select(
        F.lit("link").alias("spiderid"),
        F.lit("bigapp").alias("appid"),
        F.concat(F.lit("job"), F.col("id")).alias("crawlid"),
        F.lit(30).cast("long").alias("expires"),
    )
    store.append("crawl_jobs", jobs)
    # small frontier: only 10 of the jobs have pending rows (2 each)
    frontier_reqs = [
        {"appid": "bigapp", "crawlid": f"job{i}", "url": f"http://site{i}.com/page/{j}",
         "priority": 10, "maxdepth": 0}
        for i in range(10) for j in range(2)
    ]
    feed_requests(store, frontier_reqs, CFG)

    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    process_actions(store, round_id=1)  # now=60 > 30 for all 10^5
    jobs_after = len(tracker.getJobIdsForGroup(None))

    assert store.read("frontier", FRONTIER_SCHEMA).count() == 0
    assert store.read("crawl_jobs", CRAWL_JOBS_SCHEMA).count() == 0
    # every job got an ack row (footer count — no driver collect)
    assert store.count("outbound") == n_jobs
    # spot-check payload parity with the driver-side json.dumps shape
    sample = (
        store.read("outbound", OUTBOUND_SCHEMA)
        .filter(F.col("crawlid") == "job3").collect()
    )
    p = json.loads(sample[0].payload)
    assert p == {"action": "expired", "appid": "bigapp", "crawlid": "job3",
                 "spiderid": "link", "total_expired": 2}
    assert json.dumps(p) == json.dumps(p, sort_keys=True)  # key order parity
    # O(1) Spark jobs for the whole batch
    assert jobs_after - jobs_before < 30, f"{jobs_after - jobs_before} jobs"


def test_appid_info_domain_cap(store):
    """build_appid_info caps per-crawlid domain bins (driver-OOM guard,
    round-2 verdict #3): totals stay exact, the capped list carries a
    domains_truncated marker."""
    feed_requests(
        store,
        [{"appid": "capapp", "crawlid": "c1", "url": f"http://host{d}.com/p",
          "priority": d % 7 + 1, "maxdepth": 0} for d in range(12)],
        CFG,
    )
    frontier = store.read("frontier", FRONTIER_SCHEMA)
    info = build_appid_info(frontier, "link", "capapp", domains_cap=5)
    assert info["total_pending"] == 12          # exact despite the cap
    assert info["total_domains"] == 12
    c = info["crawlids"]["c1"]
    assert c["total"] == 12 and c["distinct_domains"] == 12
    assert len(c["domains"]) == 5
    assert c["domains_truncated"] == 7
    # uncapped path unchanged
    full = build_appid_info(frontier, "link", "capapp", domains_cap=100)
    assert len(full["crawlids"]["c1"]["domains"]) == 12
    assert "domains_truncated" not in full["crawlids"]["c1"]
    # cap 0 lists no domain, and every total survives it
    bare = build_appid_info(frontier, "link", "capapp", domains_cap=0)
    assert (bare["total_pending"], bare["total_domains"]) == (12, 12)
    assert bare["crawlids"]["c1"]["domains"] == {}
    assert bare["crawlids"]["c1"]["domains_truncated"] == 12
    q = build_stats_payload(frontier, None, None, "queue", queue_domains_cap=0)["queue"]
    assert q["queue_link"] == {"spider_backlog": 12, "num_domains": 12, "domains": [],
                               "domains_truncated": 12}
    assert q["total_backlog"] == 12


def test_heartbeat_instance_dedup(spark):
    """A spider instance heartbeating every round counts ONCE while
    several of its rows sit inside the TTL (the reference refreshes one
    TTL'd key per instance, distributed_scheduler.py:310-320)."""
    hb = spark.createDataFrame(
        [("crawler", "h1", "engine-link", "link", 60.0),
         ("crawler", "h1", "engine-link", "link", 120.0),   # same instance, next round
         ("crawler", "h1", "engine-wander", "wander", 120.0)],
        HEARTBEATS_SCHEMA,
    )
    empty_frontier = spark.createDataFrame([], FRONTIER_SCHEMA)
    empty_crawled = spark.createDataFrame([], "status_code int, spiderid string, round long")
    empty_metrics = spark.createDataFrame([], METRICS_SCHEMA)
    p = build_stats_payload(
        empty_frontier, empty_crawled, empty_metrics, "spider",
        now=120.0, heartbeats=hb, heartbeat_ttl=120,
    )
    assert p["spider"]["total_spider_count"] == 2   # not 3
    assert p["spider"]["unique_spider_count"] == 2
    assert p["spider"]["link"]["count"] == 1        # not 2


def test_plugin_stats_fanout(store, pages):
    """Per-plugin monitor stats (kafka_monitor.py:189-221): the stats
    payload breaks kafka-monitor counts out by handler plugin, and
    redis-monitor counts by monitor plugin."""
    feed_requests(
        store,
        [{"appid": "plgapp", "crawlid": "pc", "url": "http://site0.com/page/0",
          "priority": 5, "maxdepth": 0},
         {"appid": "x", "crawlid": "pc", "url": "http://site0.com/page/1"}],  # invalid appid (<3)
        CFG,
    )
    feed_action(store, {"action": "zk-update", "uuid": "u-z", "domain": "site0.com",
                        "hits": 9, "window": 60, "ts": 60.0})
    process_actions(store, round_id=1)
    feed_action(store, {"action": "stats", "uuid": "u-s", "stats": "all", "ts": 60.0})
    process_actions(store, round_id=1)

    p = poll_outbound(store, "u-s")["payload"]
    km = p["kafka-monitor"]
    assert km["plugins"]["ScraperHandler"]["lifetime"] == 1   # 1 valid request
    assert km["plugins"]["StatsHandler"]["lifetime"] == 1
    assert km["plugins"]["ZookeeperHandler"]["lifetime"] == 1
    assert km["total"]["lifetime"] == 4          # 2 crawl msgs + 2 actions
    assert km["fail"]["lifetime"] == 1           # the invalid appid
    rm = p["redis-monitor"]
    assert rm["plugins"]["ZookeeperMonitor"]["lifetime"] == 1
