"""One scheduling round — the engine's flagship job (SURVEY.md §3.1).

Each round is a pure function of pinned table snapshots, mirroring the
reference property that every scheduler poll is a pure function of
(frontier, seen, throttle-log, config) Redis state (SURVEY.md §1.3):

  frontier snapshot
    → politeness quotas (throttle.py)            [broadcast domain_config]
    → per-domain priority top-k (ranking.py)     [window rank, salted]
    → simulated fetch = join pages (fetch.py)    [broadcast batch side]
    → link explode + filters (parse.py)          [built-in SQL]
    → robots / dupe / page-limit / blacklist / expiry (robots, dedupe, limits)
    → frontier MERGE (remove scheduled, add discovered)
    → append crawled + fetch_log + seen + page_counts + metrics

Crash consistency (north_rule resume requirement): reads are pinned to
the versions recorded in the previous round's lineage row; the lineage
row for round k is committed LAST, so a crash mid-round leaves a
re-runnable round (partially-written tables are untracked garbage that
the next run simply overwrites past).  ``plans/crawl.py`` implements
the resume loop; tests/test_resume.py proves kill-and-restart produces
identical output.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F

from scrapy_cluster_spark.config import DEFAULT_CONFIG, EngineConfig
from scrapy_cluster_spark.operators import (
    dedupe,
    fetch,
    limits,
    parse,
    rank_signal,
    ranking,
    robots,
    throttle,
)
from scrapy_cluster_spark.operators.ingest import to_frontier_rows
from scrapy_cluster_spark.schemas import (
    BLACKLIST_SCHEMA,
    CRAWLED_SCHEMA,
    DOMAIN_CONFIG_SCHEMA,
    FETCH_LOG_SCHEMA,
    FRONTIER_SCHEMA,
    HEARTBEATS_SCHEMA,
    METRICS_SCHEMA,
    SEEN_SCHEMA,
)
from scrapy_cluster_spark.store import SnapshotStore
from pyspark.sql.types import LongType, StringType, StructField, StructType

PAGE_COUNTS_SCHEMA = StructType(
    [
        StructField("spiderid", StringType()),
        StructField("crawlid", StringType()),
        StructField("domain", StringType()),
        StructField("kind", StringType()),
        StructField("count", LongType()),
    ]
)

STATE_TABLES = [
    "frontier",
    "seen",
    "crawled",
    "fetch_log",
    "page_counts",
    "blacklist",
    "domain_config",
    "robots_rules",
    "cuckoos",
    # appended after the concurrent writes but BEFORE the lineage commit
    # — in lineage so crash-resume rollback covers them (a crash between
    # the heartbeat append and the lineage commit would otherwise leave
    # duplicate heartbeat/metric rows when the round re-runs)
    "heartbeats",
    "metrics",
]


def _pin(store: SnapshotStore, versions: dict | None) -> dict:
    return {t: (versions or {}).get(t, store.current_version(t)) for t in STATE_TABLES}


def _footer_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _distinct_in_files(files: list[str], column: str) -> set:
    import pyarrow.parquet as pq

    vals: set = set()
    for f in files:
        vals.update(pq.read_table(f, columns=[column])[column].to_pylist())
    return vals


def _bucket_mask_exprs(n_buckets: int) -> list:
    """Aggregate exprs collapsing a plan's ``bucket`` column into
    ceil(n/64) bit-mask longs (+ a null counter), to ride an existing
    action via ``observe`` — the touched-bucket sets the frontier merge
    needs then cost ZERO extra Spark jobs.  The round-4 path paid two
    probe jobs per round instead, one of which recomputed the unpersisted
    page-limit window chain: measured ~5 s/round of pure overhead, the
    round-4 headline regression (BENCH/BASELINE.md round 5)."""
    words = (n_buckets + 63) // 64
    exprs = [
        F.expr(
            f"coalesce(bit_or(case when bucket div 64 = {w} "
            "then shiftleft(1L, cast(bucket % 64 as int)) end), 0L)"
        ).alias(f"bm{w}")
        for w in range(words)
    ]
    exprs.append(
        F.expr("sum(case when bucket is null then 1 else 0 end)").alias("bnull")
    )
    return exprs


def _mask_to_buckets(metrics: dict, n_buckets: int) -> tuple[set, bool]:
    """Decode _bucket_mask_exprs metrics → (touched bucket set, saw-null)."""
    touched: set = set()
    for w in range((n_buckets + 63) // 64):
        m = (metrics.get(f"bm{w}") or 0) & ((1 << 64) - 1)  # Java long bit 63 reads negative
        b = 0
        while m:
            if m & 1:
                touched.add(w * 64 + b)
            m >>= 1
            b += 1
    return touched, bool(metrics.get("bnull") or 0)


def lineage_path(store: SnapshotStore) -> str:
    return os.path.join(store.root, "lineage.jsonl")


def last_lineage(store: SnapshotStore) -> dict | None:
    path = lineage_path(store)
    if not os.path.exists(path):
        return None
    last = None
    with open(path) as f:
        for line in f:
            if line.strip():
                last = json.loads(line)
    return last


def _commit_lineage(store: SnapshotStore, row: dict) -> None:
    # append + fsync: the lineage row IS the round's commit point
    with open(lineage_path(store), "a") as f:
        f.write(json.dumps(row) + "\n")
        f.flush()
        os.fsync(f.fileno())


def run_round(
    store: SnapshotStore,
    pages: DataFrame,
    round_id: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    versions: dict | None = None,
) -> dict:
    """Execute round ``round_id`` against pinned snapshots.

    Returns the lineage row: input/output versions + round metrics
    (queue depth, domains active, pages/sec — north_rule)."""
    t0 = time.time()
    now = float(round_id * cfg.round_len)
    pins = _pin(store, versions)

    frontier = store.read("frontier", FRONTIER_SCHEMA, pins["frontier"])
    seen = store.read("seen", SEEN_SCHEMA, pins["seen"])
    blacklist = store.read("blacklist", BLACKLIST_SCHEMA, pins["blacklist"])
    domain_config = store.read("domain_config", DOMAIN_CONFIG_SCHEMA, pins["domain_config"])
    fetch_log = store.read("fetch_log", FETCH_LOG_SCHEMA, pins["fetch_log"])
    page_counts = store.read("page_counts", PAGE_COUNTS_SCHEMA, pins["page_counts"])
    robots_rules = store.read("robots_rules", robots.ROBOTS_SCHEMA, pins["robots_rules"])

    # ---- pop path: blacklist is also enforced at pop time (the stop
    # action purges the queue; until the purge lands, skip the rows)
    schedulable = limits.apply_blacklist(frontier, blacklist)
    schedulable = limits.apply_expiry(schedulable, now)

    # throttle key scope: (spiderid, domain) or shared (domain) budget
    tgroup = throttle.throttle_group_cols(cfg)
    domains = schedulable.select(*tgroup).distinct()
    quotas = throttle.compute_quotas(domains, domain_config, fetch_log, round_id, cfg)
    scheduled = ranking.top_k_per_domain(
        schedulable, quotas, salted=True, salt_partitions=cfg.salt_partitions,
        group_cols=tgroup,
    )
    scheduled = throttle.assign_slots(scheduled, round_id, cfg)
    obs_sched = None
    if cfg.frontier_partial_merge:
        # touched-bucket bitmask rides the n_batch barrier count below —
        # the frontier merge reads it back jobs-free (_bucket_mask_exprs)
        from pyspark.sql import Observation

        obs_sched = Observation()
        scheduled = scheduled.observe(obs_sched, *_bucket_mask_exprs(cfg.frontier_buckets))
    scheduled = scheduled.persist()

    # ---- fetch + items: ADAPTIVE materialization (the trade-off is
    # batch-size-dependent, like a broadcast threshold):
    #
    # LARGE batches (≥ cfg.write_through_min_batch rows) write through:
    # the assembled items (fetch join + link/text extraction) stream
    # ONCE into the crawled table's parquet files — body kept,
    # page-payload duplicates dropped (fetch.py PAYLOAD_DUP_COLS),
    # extra scheduler meta (links_full/filters/retry fields) written
    # alongside so children/retries re-read the SAME files through a
    # binary-free hot cache.  Caching any body/links-bearing
    # intermediate in the block manager was the 4→16-core anti-scaling
    # of rounds 1-2 (BENCH/BASELINE.md round 3): GBs pushed through
    # executor storage contend with execution memory exactly when
    # thread count raises demand.  CRAWLED_SCHEMA readers project the
    # narrower parity shape from the same wide files.
    #
    # SMALL batches cache the assembled items directly (a few MB of
    # block-manager storage is harmless) and the crawled append joins
    # the concurrent write pool — the write-through round-trip
    # (write job + file re-read) is pure fixed latency there (measured
    # +10-20 s/round on a 33k-row bench round at local[32]).
    out_versions = dict(pins)
    items_full = fetch.assemble_items(
        fetch.fetch_batch(scheduled, pages), round_id, cfg.round_len
    )
    n_batch = scheduled.count()  # the barrier count, moved up to steer
    write_through = n_batch >= cfg.write_through_min_batch

    # ---- early write submission (round-3 verdict #7): the fetch_log
    # append depends ONLY on the (already persisted + counted)
    # scheduled batch, so it runs while the fetch/extraction/barrier
    # phase computes — its ~1-2 s vanish into the setup wall.  Safe
    # w.r.t. the round-2 cache-race lesson: its lineage reads nothing
    # uncached that a barrier later populates.
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=6)
    _write_times: dict = {}

    def _timed_write(name: str, fn):
        def run():
            s = time.time()
            v = fn()
            _write_times[name] = round(time.time() - s, 2)
            return v

        return run

    fut_fetch_log = pool.submit(_timed_write("fetch_log", lambda: store.append(
        "fetch_log",
        scheduled.select(
            throttle.throttle_key_expr(cfg).alias("throttle_key"),
            "domain", "spiderid", "url",
            F.lit(round_id).cast("long").alias("round"), "slot_ts",
        ),
        meta={"round": round_id},
    )))
    # pool + early future live inside ONE try/finally: an exception
    # anywhere in the fetch/barrier/write phase must still resolve the
    # early fetch_log future and shut the pool down (round-4 advice #3 —
    # a leaked non-daemon pool swallows the write failure and can block
    # interpreter exit on the in-flight write)
    try:
        crawled_write = None
        if write_through:
            items_wide = fetch.wide_items(items_full).withColumn("ok", F.col("success"))
            _t_crawled = time.time()
            _pre_crawled_files = set(store.files("crawled"))
            out_versions["crawled"] = store.append(
                "crawled", items_wide, partition_by=["ok"], repartition=False,
                meta={"round": round_id},
            )
            _crawled_write_sec = round(time.time() - _t_crawled, 2)
            wide_schema = StructType(
                [f for f in items_wide.schema.fields if f.name != "ok"]
            )
            _crawled_delta = [
                f
                for f in store.files("crawled", out_versions["crawled"])
                if f not in _pre_crawled_files
            ]
            items_files = (
                store.spark.read.schema(wide_schema).parquet(*_crawled_delta)
                if _crawled_delta
                else store.spark.createDataFrame([], wide_schema)
            )
            # hot projection for the two downstream consumers (children
            # explode + retries): populated FROM the written files (no
            # recompute of the extraction), body/response columns excluded
            # (nested-parquet re-decoding cost children ~+10 s @16c
            # without this cache)
            items = items_files.drop(
                "body", "links", "response_url", "status_msg", "exception",
                "response_headers", "request_headers", "encoding", "timestamp",
                "status_code",
            ).persist()
        else:
            items = items_full.persist()
            crawled_write = lambda: store.append(  # noqa: E731 — joins the write pool
                "crawled",
                fetch.project_crawled(items).withColumn("ok", F.col("success")),
                partition_by=["ok"],
                repartition=False,
                meta={"round": round_id},
            )

        # ---- discovered children + retries → enqueue filter chain
        boost_df = None
        if cfg.use_url_rank and store.exists("url_rank"):
            # advisory signal, refreshed on the maintenance cadence —
            # read current (like zk config hot-reload), not lineage-pinned
            boost_df = rank_signal.rank_boost(
                store.read("url_rank", rank_signal.URL_RANK_SCHEMA),
                cfg.url_rank_weight,
            )
        children = to_frontier_rows(
            parse.child_candidates(items, rank_boost=boost_df),
            round_id, cfg, source="spider",
        )
        children = robots.apply_robots(children, robots_rules).persist()
        cuckoos_df = None
        if cfg.use_cuckoo:
            from scrapy_cluster_spark.operators import cuckoo as cuckoo_mod

            if pins["cuckoos"] == 0 and store.count("seen", pins["seen"]) > 0:
                # use_cuckoo enabled on a store that already has seen rows
                # (round-4 advice): cuckoo_probe answers definite-new for
                # buckets with no filter row, so without this bootstrap
                # every previously-seen URL would skip the exact anti-join
                # and re-enqueue — and the sidecar is never rebuilt from
                # seen, so it would never self-heal.  Build the
                # sidecars from the pinned seen snapshot once (same multiset
                # the per-round upserts would have inserted; retention's
                # per-row deletes stay balanced).
                pins["cuckoos"] = store.overwrite(
                    "cuckoos",
                    cuckoo_mod.build_cuckoo(seen, m=cfg.cuckoo_m, slots=cfg.cuckoo_slots),
                    meta={"round": round_id, "bootstrap_from_seen": True},
                    coalesce=1,
                )
                out_versions["cuckoos"] = pins["cuckoos"]
            cuckoos_df = store.read("cuckoos", cuckoo_mod.CUCKOO_SCHEMA, pins["cuckoos"])
        passed_dupe, seen_inserts = dedupe.apply_dupefilter(children, seen, cuckoos_df)

        retries = parse.retry_candidates(items, cfg).select(*[f.name for f in FRONTIER_SCHEMA.fields])
        enqueue_in = passed_dupe.unionByName(retries)
        obs_enq = None
        if cfg.frontier_partial_merge:
            # enqueue_in's buckets are a SUPERSET of accepted's (the limit/
            # blacklist/expiry filters only remove rows), and a superset of
            # touched is safe — an extra bucket is rewritten from
            # new_frontier with content identical to what it already held.
            # Riding the barrier count here replaces the round-4 probe that
            # recomputed the whole page-limit window chain.
            from pyspark.sql import Observation

            obs_enq = Observation()
            enqueue_in = enqueue_in.observe(obs_enq, *_bucket_mask_exprs(cfg.frontier_buckets))
        enqueue_in = enqueue_in.persist()

        after_global_cap, domain_deltas, global_deltas = limits.apply_page_limits(
            enqueue_in, page_counts, cfg.global_page_per_domain_limit
        )
        accepted = limits.apply_blacklist(after_global_cap, blacklist)
        accepted = limits.apply_expiry(accepted, now)
        accepted = limits.apply_zk_domain_filter(accepted, domain_config, cfg.backlog_blacklist)
        accepted = accepted.select(*[f.name for f in FRONTIER_SCHEMA.fields])

        # ---- frontier merge: old − scheduled + accepted.  Rows in buckets
        # the round neither scheduled from nor inserted into are unchanged,
        # so the partial path rewrites only the touched buckets and carries
        # the rest of the pinned snapshot's files into the new manifest
        # (store.overwrite_partitions).
        row_key = ["spiderid", "crawlid", "fingerprint", "retry_times", "inserted_round"]
        remaining = frontier.join(scheduled.select(*row_key), row_key, "left_anti")
        new_frontier = remaining.unionByName(accepted)

        def _write_frontier():
            if not cfg.frontier_partial_merge:
                return store.overwrite(
                    "frontier", new_frontier, partition_by=["bucket"], meta={"round": round_id}
                )
            # touched = buckets of popped rows ∪ buckets of enqueue
            # candidates; both sets already rode the barrier counts as
            # observe() bitmasks (zero extra jobs — the get calls below
            # return instantly because the actions ran in the barrier
            # phase above)
            t_sched, null_sched = _mask_to_buckets(obs_sched.get, cfg.frontier_buckets)
            t_enq, null_enq = _mask_to_buckets(obs_enq.get, cfg.frontier_buckets)
            touched = t_sched | t_enq
            has_null = null_sched or null_enq  # defensive: all producers set bucket
            if len(touched) >= cfg.frontier_buckets and not has_null and not any(
                "_p_bucket=__HIVE_DEFAULT_PARTITION__" in f
                for f in store.files("frontier", pins["frontier"])
            ):
                # every bucket is rewritten anyway (the bench's hot regime:
                # domains ≫ buckets, so all 32 buckets are touched every
                # round) — the partial machinery saves no IO; take the
                # plain overwrite
                return store.overwrite(
                    "frontier", new_frontier, partition_by=["bucket"], meta={"round": round_id}
                )
            cond = F.col("bucket").isin(*sorted(touched)) if touched else F.lit(False)
            if has_null:
                cond = cond | F.col("bucket").isNull()
            return store.overwrite_partitions(
                "frontier",
                new_frontier.filter(cond),
                "bucket",
                sorted(touched) + ([None] if has_null else []),
                meta={"round": round_id, "touched_buckets": len(touched) + int(has_null)},
                base_version=pins["frontier"],
            )

        # ---- materialization barriers: populate each cache once, in
        # dependency order, BEFORE the concurrent write jobs.  Without
        # these, the write threads race to compute overlapping uncached
        # lineages (cache-population lock contention + duplicated UDF work:
        # measured 146 s concurrent vs 86 s stepwise on the 1.45M-page
        # probe round).  count() jobs on cached plans cost ~0.2-0.5 s
        # each of driver planning — noise next to the contention they avoid.
        # (scheduled was already counted above to steer the adaptive path)
        for _df in (items, children, enqueue_in):
            _df.count()

        # ---- commits (lineage row last = atomic round commit)
        #
        # The five table writes are INDEPENDENT Spark jobs over persisted
        # intermediates (scheduled / items / children / enqueue_in), and the
        # SnapshotStore commits per-table manifests — so they run
        # CONCURRENTLY from driver threads.  Sequential writes were the
        # dominant per-round serial cost (each job pays full DAG-planning
        # latency back-to-back; round-1 bench measured a 14-22 s/round
        # serial floor).  Crash consistency is unchanged: the lineage row
        # still commits last, and resume rolls every table back to the last
        # lineage-recorded version, so a crash that lands only some of the
        # concurrent commits leaves no observable partial round.
        deltas = domain_deltas
        if global_deltas is not None:
            deltas = deltas.unionByName(global_deltas)

        writes = {
            "frontier": _write_frontier,
            # (large batches: crawled was already written above by the
            # write-through path; small batches append it concurrently
            # below.  'ok' duplicates 'success' as the partition dir so
            # pages_crawled comes free from footers.  fetch_log was
            # submitted early, before the barrier phase.)
            # seen + page_counts share ONE Spark job (store.append_many):
            # two fewer concurrent jobs contending for task slots with the
            # frontier overwrite — the write window's critical path
            "seen+page_counts": lambda: store.append_many(
                {
                    "seen": seen_inserts.select(
                        "spiderid", "crawlid", "fingerprint",
                        F.lit(round_id).cast("long").alias("seen_round"), "bucket",
                    ),
                    "page_counts": deltas,
                },
                meta={"round": round_id},
            ),
        }
        if crawled_write is not None:
            writes["crawled"] = crawled_write
        if cfg.use_cuckoo:
            # cuckoo is a MAINTAINED table (upsert-in-place per bucket), not
            # an append-delta: cogroup this round's new fps into the pinned
            # sidecars and commit the rewritten snapshot
            from scrapy_cluster_spark.operators import cuckoo as cuckoo_mod

            writes["cuckoos"] = lambda: store.overwrite(
                "cuckoos",
                cuckoo_mod.cuckoo_upsert(
                    cuckoos_df, seen_inserts, m=cfg.cuckoo_m, slots=cfg.cuckoo_slots
                ),
                meta={"round": round_id},
                coalesce=1,
            )

        profile = {"setup_sec": round(time.time() - t0, 2)}
        if write_through:
            profile["write_crawled_sec"] = _crawled_write_sec
        t_writes = time.time()
        futures = {t: pool.submit(_timed_write(t, fn)) for t, fn in writes.items()}
        for t, fut in futures.items():
            v = fut.result()
            if isinstance(v, dict):  # append_many: one version per table
                out_versions.update(v)
            else:
                out_versions[t] = v
        out_versions["fetch_log"] = fut_fetch_log.result()
    finally:
        pool.shutdown(wait=True)
    profile["writes_wall_sec"] = round(time.time() - t_writes, 2)
    profile.update({f"write_{n}_sec": s for n, s in _write_times.items()})

    # ---- round stats from committed parquet footers (no Spark jobs)
    def _delta(table: str) -> list[str]:
        old = set(store.files(table, pins[table]))
        return [f for f in store.files(table, out_versions[table]) if f not in old]

    frontier_depth = store.count("frontier", out_versions["frontier"])
    fetch_delta = _delta("fetch_log")
    n_scheduled = _footer_rows(fetch_delta)
    n_ok = _footer_rows([f for f in _delta("crawled") if "ok=true" in f])
    n_candidates = _footer_rows(_delta("seen"))  # new fps after robots+dupe
    n_domains_active = len(_distinct_in_files(fetch_delta, "domain"))
    elapsed = time.time() - t0

    # heartbeat self-reports (distributed_scheduler.py:310-320 analog):
    # one 'crawler' row per spider type active this round — spiderids
    # come from the already-read fetch_log footers, zero extra Spark
    # jobs.  Liveness = ts within cfg.heartbeat_ttl of 'now'.
    import socket

    host = socket.gethostname()
    active_spiders = sorted(_distinct_in_files(fetch_delta, "spiderid"))
    hb_rows = [
        {"component": "crawler", "host": host, "uuid": f"engine-{s}",
         "spiderid": s, "ts": now}
        for s in active_spiders
    ] + [
        {"component": "redis-monitor", "host": host, "uuid": "engine",
         "spiderid": None, "ts": now},
        {"component": "kafka-monitor", "host": host, "uuid": "engine",
         "spiderid": None, "ts": now},
    ]
    out_versions["heartbeats"] = store.append_rows(
        "heartbeats", hb_rows, HEARTBEATS_SCHEMA, meta={"round": round_id}
    )
    metric_rows = [
        ("queue_depth", float(frontier_depth)),
        ("domains_active", float(n_domains_active)),
        ("pages_crawled", float(n_ok)),
        ("urls_scheduled", float(n_scheduled)),
        ("pages_per_sec", float(n_ok / elapsed) if elapsed > 0 else 0.0),
        ("round_wall_sec", float(elapsed)),
    ]
    out_versions["metrics"] = store.append_rows(
        "metrics",
        [
            {"round": round_id, "component": "scheduler", "kind": k, "plugin": None,
             "spiderid": None, "status_code": None, "value": v, "ts": now}
            for k, v in metric_rows
        ],
        METRICS_SCHEMA,
        meta={"round": round_id},
    )

    scheduled.unpersist()
    items.unpersist()
    children.unpersist()
    enqueue_in.unpersist()
    profile["stats_sec"] = round(time.time() - t_writes - profile["writes_wall_sec"], 2)

    lineage = {
        "round": round_id,
        "inputs": pins,
        "outputs": out_versions,
        "profile": profile,
        "scheduled": n_scheduled,
        "crawled_ok": n_ok,
        "candidates": n_candidates,
        "frontier_depth": frontier_depth,
        "domains_active": n_domains_active,
        "wall_sec": elapsed,
    }
    _commit_lineage(store, lineage)
    return lineage
