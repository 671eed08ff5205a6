"""Stats action payload assembly (stats_monitor.py:15-67 dispatch,
api.rst response shapes) + poll and wander modes."""

import json

from scrapy_cluster_spark.config import EngineConfig
from scrapy_cluster_spark.operators.control import feed_action, poll_outbound, process_actions
from scrapy_cluster_spark.plans.crawl import feed_requests, run_crawl

CFG = EngineConfig()


# Full ack JSON of every stats/info request in test_stats_action_payload,
# host name replaced by HOST: any change to how the payloads are
# aggregated must leave these bytes unchanged.
PINNED = {
    "u-queue": (
        '{"action": "stats", "appid": null, "crawlid": null, "payload": '
        '{"queue": {"queue_link": {"domains": [{"backlog": 5, "domain": '
        '"site0.com"}, {"backlog": 2, "domain": "site1.com"}], "num_domains": '
        '2, "spider_backlog": 7}, "total_backlog": 7}, "stats": "queue"}, '
        '"server_time": 0, "spiderid": null, "uuid": "u-queue"}'
    ),
    "u-info-app": (
        '{"action": "info", "appid": "statapp", "crawlid": null, "payload": '
        '{"appid": "statapp", "crawlids": {"sc": {"distinct_domains": 1, '
        '"domains": {"site0.com": {"high_priority": 9, "low_priority": 5, '
        '"total": 5}}, "total": 5}, "sc2": {"distinct_domains": 1, "domains": '
        '{"site1.com": {"high_priority": 5, "low_priority": 5, "total": 2}}, '
        '"total": 2}}, "spiderid": "link", "total_crawlids": 2, '
        '"total_domains": 2, "total_pending": 7}, "server_time": 0, '
        '"spiderid": "link", "uuid": "u-info-app"}'
    ),
    "u-info-crawl": (
        '{"action": "info", "appid": "statapp", "crawlid": "sc", "payload": '
        '{"appid": "statapp", "crawlid": "sc", "domains": {"site0.com": '
        '{"high_priority": 9, "low_priority": 5, "total": 5}}, "expires": 0, '
        '"spiderid": "link", "total_domains": 1, "total_pending": 5}, '
        '"server_time": 0, "spiderid": "link", "uuid": "u-info-crawl"}'
    ),
    "u-stats": (
        '{"action": "stats", "appid": null, "crawlid": null, "payload": '
        '{"kafka-monitor": {"plugins": {"ActionHandler": {"21600": 2, "3600": '
        '2, "43200": 2, "604800": 2, "86400": 2, "900": 2, "lifetime": 2}, '
        '"ScraperHandler": {"21600": 7, "3600": 7, "43200": 7, "604800": 7, '
        '"86400": 7, "900": 7, "lifetime": 7}, "StatsHandler": {"21600": 2, '
        '"3600": 2, "43200": 2, "604800": 2, "86400": 2, "900": 2, '
        '"lifetime": 2}}, "total": {"21600": 11, "3600": 11, "43200": 11, '
        '"604800": 11, "86400": 11, "900": 11, "lifetime": 11, "total_value": '
        '11.0}}, "machine": {"count": 1, "HOST": {"200": {"21600": 7, "3600": '
        '7, "43200": 7, "604800": 7, "86400": 7, "900": 7, "lifetime": 7}}}, '
        '"queue": {"total_backlog": 0}, "redis-monitor": {"plugins": '
        '{"InfoMonitor": {"21600": 2, "3600": 2, "43200": 2, "604800": 2, '
        '"86400": 2, "900": 2, "lifetime": 2}, "StatsMonitor": {"21600": 1, '
        '"3600": 1, "43200": 1, "604800": 1, "86400": 1, "900": 1, '
        '"lifetime": 1}}}, "rest": {}, "spider": {"link": {"200": {"21600": '
        '7, "3600": 7, "43200": 7, "604800": 7, "86400": 7, "900": 7, '
        '"lifetime": 7}, "count": 1}, "total_spider_count": 1, '
        '"unique_spider_count": 1}, "stats": "all"}, "server_time": 120, '
        '"spiderid": null, "uuid": "u-stats"}'
    ),
    "u-crawler": (
        '{"action": "stats", "appid": null, "crawlid": null, "payload": '
        '{"machine": {"count": 1, "HOST": {"200": {"21600": 7, "3600": 7, '
        '"43200": 7, "604800": 7, "86400": 7, "900": 7, "lifetime": 7}}}, '
        '"queue": {"total_backlog": 0}, "spider": {"link": {"200": {"21600": '
        '7, "3600": 7, "43200": 7, "604800": 7, "86400": 7, "900": 7, '
        '"lifetime": 7}, "count": 1}, "total_spider_count": 1, '
        '"unique_spider_count": 1}, "stats": "crawler"}, "server_time": 120, '
        '"spiderid": null, "uuid": "u-crawler"}'
    ),
    "u-stats-late": (
        '{"action": "stats", "appid": null, "crawlid": null, "payload": '
        '{"spider": {"link": {"200": {"21600": 7, "3600": 7, "43200": 7, '
        '"604800": 7, "86400": 7, "900": 7, "lifetime": 7}}, '
        '"total_spider_count": 0, "unique_spider_count": 0}, "stats": '
        '"spider"}, "server_time": 600, "spiderid": null, "uuid": '
        '"u-stats-late"}'
    ),
}


def _pinned(ack: dict) -> str:
    import socket

    text = json.dumps(ack, sort_keys=True)
    return text.replace(json.dumps(socket.gethostname()), '"HOST"')


def test_stats_action_payload(store, pages):
    feed_requests(
        store,
        [{"appid": "statapp", "crawlid": "sc", "url": f"http://site0.com/page/{j}",
          "priority": 5 + j, "maxdepth": 0} for j in range(5)]
        + [{"appid": "statapp", "crawlid": "sc2", "url": f"http://site1.com/page/{j}",
            "priority": 5, "maxdepth": 0} for j in range(2)],
        CFG,
    )
    # --- before the crawl: queue stats and info rollups over the full
    # frontier (StatsMonitor.get_queue_stats :261-297, InfoMonitor
    # :81-202)
    feed_action(store, {"action": "stats", "uuid": "u-queue", "stats": "queue"})
    feed_action(store, {"action": "info", "uuid": "u-info-app", "spiderid": "link",
                        "appid": "statapp"})
    feed_action(store, {"action": "info", "uuid": "u-info-crawl", "spiderid": "link",
                        "appid": "statapp", "crawlid": "sc"})
    process_actions(store, round_id=0)
    ack = poll_outbound(store, "u-queue")
    assert _pinned(ack) == PINNED["u-queue"]
    q = ack["payload"]["queue"]
    assert q["queue_link"]["spider_backlog"] == 7
    assert q["queue_link"]["num_domains"] == 2
    assert q["total_backlog"] == 7
    for uuid in ("u-info-app", "u-info-crawl"):
        assert _pinned(poll_outbound(store, uuid)) == PINNED[uuid]

    run_crawl(store, pages, CFG, max_rounds=2)
    feed_action(store, {"action": "stats", "uuid": "u-stats", "stats": "all"})
    # round 2 → now=120 s: the round-1 crawler heartbeat (ts=60, the
    # only round that scheduled anything) is inside the 120 s TTL
    process_actions(store, round_id=2)

    ack = poll_outbound(store, "u-stats")
    assert ack is not None and ack["action"] == "stats"
    assert _pinned(ack) == PINNED["u-stats"]
    p = ack["payload"]
    assert p["stats"] == "all"
    # queue stats reflect the (drained) frontier; spider stats the crawl
    assert "total_backlog" in p["queue"]
    # window-keyed response (api.rst:324): rolling windows + lifetime
    s200 = p["spider"]["link"]["200"]
    assert s200["lifetime"] == 7
    assert s200["900"] == 7  # crawl events (t=60) inside 15 min of now=120
    assert s200["604800"] == 7
    # heartbeat-derived live counts (stats_monitor.py:169-202)
    assert p["spider"]["unique_spider_count"] == 1
    assert p["spider"]["total_spider_count"] == 1
    assert p["spider"]["link"]["count"] == 1
    import socket

    host = socket.gethostname()
    assert p["machine"]["count"] == 1
    assert p["machine"][host]["200"]["lifetime"] == 7
    assert "kafka-monitor" in p and "redis-monitor" in p
    # 'all' carries the rest section too (get_all_stats,
    # stats_monitor.py:78); no REST process runs in-engine, so its
    # metrics dict is empty — the KEY must still exist for API parity
    assert p["rest"] == {}
    # kafka-monitor total_value equals its lifetime window: totals come
    # from plugin-null rows only (plugin rows share kind='total' and
    # would double-count every handled message)
    km_total = p["kafka-monitor"]["total"]
    assert km_total["total_value"] == km_total["lifetime"]

    # --- stats: crawler = spiders + machines + QUEUE
    # (get_crawler_stats, stats_monitor.py:246-258)
    feed_action(store, {"action": "stats", "uuid": "u-crawler", "stats": "crawler"})
    process_actions(store, round_id=2)
    ack = poll_outbound(store, "u-crawler")
    assert _pinned(ack) == PINNED["u-crawler"]
    pc = ack["payload"]
    assert set(pc) == {"stats", "queue", "spider", "machine"}
    assert "total_backlog" in pc["queue"]

    # --- heartbeat expiry: same store, much later stats action.  A
    # heartbeat older than the TTL no longer counts as live (Redis
    # key-expiry analog, distributed_scheduler.py:319-320)
    feed_action(store, {"action": "stats", "uuid": "u-stats-late", "stats": "spider"})
    process_actions(store, round_id=10)  # now=600: ts=60 is stale (TTL 120)
    ack = poll_outbound(store, "u-stats-late")
    assert _pinned(ack) == PINNED["u-stats-late"]
    p2 = ack["payload"]
    assert p2["spider"]["total_spider_count"] == 0
    assert "count" not in p2["spider"].get("link", {})
    # lifetime survives; the 900 s window (600-900<60) still covers t=60
    assert p2["spider"]["link"]["200"]["lifetime"] == 7


def test_stats_and_info_collect_counts(spark, monkeypatch):
    """Each source table is aggregated once per request: a ``stats:
    all`` payload collects at most once per table (heartbeats, frontier,
    crawled, metrics) and an appid info payload exactly once."""
    from scrapy_cluster_spark.operators.stats import build_appid_info, build_stats_payload
    from scrapy_cluster_spark.schemas import FRONTIER_SCHEMA, HEARTBEATS_SCHEMA, METRICS_SCHEMA

    frontier = spark.createDataFrame(
        [{"spiderid": "link", "appid": "capp", "crawlid": "c1", "domain": f"d{i % 3}.com",
          "url": f"http://d{i % 3}.com/{i}", "priority": i} for i in range(6)],
        FRONTIER_SCHEMA,
    )
    crawled = spark.createDataFrame(
        [(200, "link", 1), (404, "link", 1)], "status_code int, spiderid string, round long"
    )
    metrics = spark.createDataFrame(
        [{"component": c, "kind": "total", "plugin": p, "value": 1.0, "ts": 60.0}
         for c in ("kafka-monitor", "redis-monitor") for p in (None, "Plugin")],
        METRICS_SCHEMA,
    )
    heartbeats = spark.createDataFrame(
        [("crawler", "h1", "engine-link", "link", 60.0)], HEARTBEATS_SCHEMA
    )
    cls = type(frontier)  # the concrete DataFrame class behind the API
    calls = []
    real_collect = cls.collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    p = build_stats_payload(frontier, crawled, metrics, "all", now=60.0, heartbeats=heartbeats)
    n_stats = len(calls)
    calls.clear()
    info = build_appid_info(frontier, "link", "capp")
    n_info = len(calls)
    monkeypatch.undo()

    assert p["queue"]["queue_link"]["spider_backlog"] == 6
    assert info["total_pending"] == 6 and info["total_domains"] == 3
    assert n_stats <= 4, f"stats: all took {n_stats} collects"
    assert n_info == 1, f"appid info took {n_info} collects"


def test_poll_unknown_uuid(store):
    assert poll_outbound(store, "nope") is None


def test_wander_mode(spark, pages):
    """WanderingSpider: one link per page, step counter in attrs."""
    from pyspark.sql import functions as F

    from scrapy_cluster_spark.operators import fetch
    from scrapy_cluster_spark.operators.ingest import to_frontier_rows, validate_requests
    from scrapy_cluster_spark.operators.parse import wander_candidates

    reqs = spark.createDataFrame(
        [("wapp", "wc", "http://site0.com/page/0", 50, 3)],
        "appid string, crawlid string, url string, priority int, maxdepth int",
    )
    valid, _ = validate_requests(reqs, CFG)
    batch = to_frontier_rows(valid, 1, CFG)
    items = fetch.assemble_items(fetch.fetch_batch(batch, pages), 1, 60)
    kids = wander_candidates(items, seed=42).collect()
    assert len(kids) == 1  # exactly one followed link
    assert kids[0].attrs["step"] == "1"
    assert kids[0].curdepth == 1
    # deterministic: same seed → same pick
    again = wander_candidates(
        fetch.assemble_items(fetch.fetch_batch(batch, pages), 1, 60), seed=42
    ).collect()
    assert again[0].url == kids[0].url


def test_hll_sketch_incremental_merge_equals_batch(spark):
    """Mergeable HLL state (PFADD/PFMERGE analog): per-chunk sketches
    unioned with hll_merge produce the SAME estimate as one batch
    sketch over everything (associative registers), and the estimate is
    within HLL error of the exact count — the property that makes the
    lifetime-unique counter incremental (O(new data) per round) instead
    of a history rescan."""
    from scrapy_cluster_spark.operators import stats as S

    def tagged(df):
        return df.selectExpr("id % 4 as k", "concat('u', id % 2500) as v")

    whole = {
        r.k: r.value
        for r in S.hll_estimate(
            S.hll_sketch_rollup(tagged(spark.range(10_000)), ["k"], "v")
        ).collect()
    }
    chunks = [
        S.hll_sketch_rollup(tagged(spark.range(i, 10_000, 3)), ["k"], "v")
        for i in range(3)
    ]
    merged = {
        r.k: r.value
        for r in S.hll_estimate(
            S.hll_merge(chunks[0].unionAll(chunks[1]).unionAll(chunks[2]), ["k"])
        ).collect()
    }
    assert merged == whole  # identical registers, not just close
    exact = 625  # per k: ids in one residue class mod 4 hit 625 of the 2500 v values
    assert all(abs(v - exact) / exact < 0.05 for v in whole.values())


def test_index_status(spark, store):
    """REST '/' index analog (rest_service.py:577-601): uptime, node id,
    backend connectivity, GREEN/YELLOW/RED health."""
    from scrapy_cluster_spark.operators.control import index_status

    s = index_status(store, my_id="node-1", start_time=100.0, now=160.5)
    assert s == {
        "feed_connected": True,
        "store_connected": True,
        "uptime_sec": 60,
        "my_id": "node-1",
        "node_health": "GREEN",
    }

    class _Broken:
        root = "/nonexistent/definitely/not/here"

        def current_version(self, table):
            raise OSError("backend down")

    s2 = index_status(_Broken(), my_id="node-2", start_time=0.0, now=1.0)
    assert s2["node_health"] == "RED"
    assert not s2["store_connected"] and not s2["feed_connected"]


def test_sessionize_gap_boundaries(spark):
    """Spark's session-window boundary is INCLUSIVE: an event at exactly
    last + gap_s merges into the session; one microsecond over starts
    a new one.  The oracle's gaps-and-islands break is therefore
    strictly-greater-than."""
    import datetime as dt

    from scrapy_cluster_spark.operators.stats import sessionize

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(sec, us=0):
        return t0 + dt.timedelta(seconds=sec, microseconds=us)

    rows = [
        # user 1: events 10 s apart → one session of 3
        (1, at(0), 1.0), (1, at(10), 2.0), (1, at(20), 3.5),
        # user 1: 1 µs OVER the gap after the last → NEW session
        (1, at(80, 1), 1.25),
        # user 2: exactly the gap → INCLUSIVE boundary, SAME session
        (2, at(0), 1.0), (2, at(60), 2.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = sessionize(df, gap_s=60).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append(r)
    u1 = sorted(by_user[1], key=lambda r: r.session_start_us)
    assert [(r.n_events, r.total_value) for r in u1] == [(3, 6.5), (1, 1.25)]
    assert u1[0].session_last_us - u1[0].session_start_us == 20_000_000
    u2 = by_user[2]
    assert len(u2) == 1 and u2[0].n_events == 2
    assert u2[0].session_last_us - u2[0].session_start_us == 60_000_000
