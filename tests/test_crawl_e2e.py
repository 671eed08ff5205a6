"""End-to-end crawl semantics — the reference's online integration
scenarios re-expressed over snapshots (SURVEY.md §5 tests 2,3,6,7,8,9;
crawler/tests/online.py:83-129).
"""

import pytest
from pyspark.sql import functions as F

from scrapy_cluster_spark.config import EngineConfig
from scrapy_cluster_spark.plans.crawl import feed_requests, run_crawl
from scrapy_cluster_spark.schemas import (
    CRAWLED_SCHEMA,
    DOMAIN_CONFIG_SCHEMA,
    FETCH_LOG_SCHEMA,
    FRONTIER_SCHEMA,
    SEEN_SCHEMA,
)

CFG = EngineConfig()


def _crawled(store):
    return store.read("crawled", CRAWLED_SCHEMA)


@pytest.fixture(scope="module")
def crawled_store(spark, pages):
    """One shared crawl exercising several independent crawlids at once
    (crawlids have independent seen-sets/counters, so assertions are
    isolated; politeness is shared but only affects round placement)."""
    import shutil
    import tempfile

    from scrapy_cluster_spark.store import SnapshotStore

    tmp = tempfile.mkdtemp(prefix="scs-shared-")
    st = SnapshotStore(spark, tmp)
    feed_requests(
        st,
        [
            {"appid": "testapp", "crawlid": "md0", "url": "http://site1.com/page/0",
             "priority": 70, "maxdepth": 0},
            {"appid": "testapp", "crawlid": "dmp4", "url": "http://site1.com/page/0",
             "priority": 90, "maxdepth": 3, "domain_max_pages": 4},
            {"appid": "testapp", "crawlid": "txt", "url": "http://site2.com/page/0",
             "priority": 50, "maxdepth": 2},
            {"appid": "testapp", "crawlid": "rty", "url": "http://site0.com/nonexistent",
             "priority": 40, "maxdepth": 0},
        ],
        CFG,
    )
    run_crawl(st, pages, CFG, max_rounds=12)
    yield st
    shutil.rmtree(tmp, ignore_errors=True)


def test_feed_injects_defaults(store, pages):
    # mirrors kafka-monitor online feed test: defaults per scraper_schema
    feed_requests(store, [{"appid": "testapp", "crawlid": "c1", "url": "http://site1.com/page/0"}], CFG)
    row = store.read("frontier", FRONTIER_SCHEMA).collect()[0]
    assert row.spiderid == "link"
    assert row.priority == 1
    assert row.maxdepth == 0
    assert row.expires == 0
    assert row.domain == "site1.com"
    assert len(row.fingerprint) == 40


def test_feed_rejects_invalid(store, pages):
    res = feed_requests(
        store,
        [
            {"appid": "x", "crawlid": "c", "url": "http://a.com/"},  # appid too short
            {"appid": "okapp", "crawlid": "c", "url": None},  # no url
            {"appid": "okapp", "crawlid": "c", "url": "http://a.com/", "priority": 500},
        ],
        CFG,
    )
    assert res == {"valid": 0, "invalid": 3}


def test_maxdepth0_crawls_exactly_one_page(crawled_store):
    # online.py:128: maxdepth 0 job → exactly 1 page
    assert _crawled(crawled_store).filter("crawlid='md0' AND success = true").count() == 1


def test_domain_max_pages_limit(crawled_store):
    # online.py:129: domain_max_pages 4, maxdepth 3 → exactly 4 pages
    # on the seed's domain (1 feed seed bypasses the counter + 3 children)
    per_domain = (
        _crawled(crawled_store)
        .filter("crawlid='dmp4' AND success = true")
        .groupBy("domain")
        .count()
        .collect()
    )
    counts = {r["domain"]: r["count"] for r in per_domain}
    assert counts["site1.com"] == 4
    # discovered domains have no bypassing seed → at most limit-1 pages
    for dom, n in counts.items():
        if dom != "site1.com":
            assert n <= 3


def test_global_page_limit(store, pages):
    """GLOBAL_PAGE_PER_DOMAIN_LIMIT (settings.py:49,
    redis_global_page_per_domain_filter.py): a cluster-wide hard cap per
    (spiderid, domain, crawlid) applied to EVERY crawl regardless of its
    own domain_max_pages; the feed seed bypasses filters, discovered
    children count against it."""
    cfg = EngineConfig(global_page_per_domain_limit=3)
    feed_requests(
        store,
        [{"appid": "testapp", "crawlid": "glob1", "url": "http://site1.com/page/0",
          "priority": 80, "maxdepth": 3}],
        cfg,
    )
    run_crawl(store, pages, cfg, max_rounds=8)
    per_domain = (
        _crawled(store)
        .filter("crawlid='glob1' AND success = true")
        .groupBy("domain")
        .count()
        .collect()
    )
    counts = {r["domain"]: r["count"] for r in per_domain}
    # 1 bypassing seed + at most limit-1 children that pass pre-insert
    assert counts["site1.com"] == 3
    for dom, n in counts.items():
        if dom != "site1.com":
            assert n <= 2  # no seed on discovered domains


def test_dupefilter_same_crawlid_dedupes(store, pages):
    # docs/topics/crawler/design.rst: same crawlid skips seen URLs,
    # new crawlid recrawls
    seed = {"appid": "testapp", "crawlid": "dupA", "url": "http://site3.co.uk/page/0",
            "priority": 50, "maxdepth": 1}
    feed_requests(store, [seed], CFG)
    run_crawl(store, pages, CFG, max_rounds=6)
    first = _crawled(store).filter("crawlid='dupA' AND success = true").count()
    assert first > 1

    # refeed the same seed, same crawlid: seed refetches (feed bypasses
    # the dupefilter) but all children are already seen
    feed_requests(store, [seed], CFG)
    run_crawl(store, pages, CFG, max_rounds=6)
    second = _crawled(store).filter("crawlid='dupA' AND success = true").count()
    assert second == first + 1

    # new crawlid: full recrawl
    feed_requests(store, [dict(seed, crawlid="dupB")], CFG)
    run_crawl(store, pages, CFG, max_rounds=6)
    assert _crawled(store).filter("crawlid='dupB' AND success = true").count() == first


def test_politeness_budget(store, pages):
    # §5 test 7: default 10 hits / 60 s window, round = 60 s → no domain
    # exceeds 10 fetches per round; moderated slots evenly spaced 6 s
    feed_requests(
        store,
        [{"appid": "testapp", "crawlid": "pol", "url": f"http://site0.com/page/{j}",
          "priority": 10, "maxdepth": 0} for j in range(12)],
        CFG,
    )
    lineage = run_crawl(store, pages, CFG, max_rounds=4)
    # the round profile is always on: every lineage row carries it
    assert lineage and all(
        {"setup_sec", "writes_wall_sec", "stats_sec"} <= row["profile"].keys()
        for row in lineage
    )
    log = store.read("fetch_log", FETCH_LOG_SCHEMA)
    per_round = log.groupBy("domain", "round").count().collect()
    assert all(r["count"] <= 10 for r in per_round)
    # moderation: gap = window/hits = 6 s within each round
    slots = sorted(
        r["slot_ts"] for r in log.filter("round = 1").collect()
    )
    gaps = [round(b - a, 6) for a, b in zip(slots, slots[1:])]
    assert all(g == 6.0 for g in gaps)


def test_priority_ordering_within_domain(store, pages):
    # §5 test 8: within a domain, fetch order is priority desc, ties
    # lexicographic by url (redis zset pop order, redis_queue.py:130-141)
    reqs = [
        {"appid": "testapp", "crawlid": "ord", "url": f"http://site0.com/page/{j}",
         "priority": p, "maxdepth": 0}
        for j, p in [(5, 90), (3, 90), (8, 50), (1, 50), (9, 10), (2, 10)]
    ]
    cfg_hits2 = EngineConfig(queue_hits=2)
    feed_requests(store, reqs, cfg_hits2)
    run_crawl(store, pages, cfg_hits2, max_rounds=6)
    log = store.read("fetch_log", FETCH_LOG_SCHEMA).orderBy("round", "slot_ts").collect()
    urls = [r["url"] for r in log]
    assert urls == [
        "http://site0.com/page/3",  # prio 90, lex '3' < '5'
        "http://site0.com/page/5",
        "http://site0.com/page/1",  # prio 50
        "http://site0.com/page/8",
        "http://site0.com/page/2",  # prio 10
        "http://site0.com/page/9",
    ]


def test_retry_priority_decay(crawled_store):
    # §5 test 9: failed fetch re-enqueued with retry_times+1, priority-10,
    # max 3 retries (redis_retry_middleware.py:9-18)
    attempts = _crawled(crawled_store).filter("crawlid='rty'").orderBy("round").collect()
    assert len(attempts) == 4  # original + 3 retries
    assert all(not a["success"] for a in attempts)
    # frontier drained (retry 4 never enqueued)
    assert (
        crawled_store.read("frontier", FRONTIER_SCHEMA).filter("crawlid='rty'").count() == 0
    )


def test_zk_domain_config_scales_quota(store, pages):
    # zk override: hits=4, window=60 on site0.com + scale clamp
    # (distributed_scheduler.py:176-210)
    store.append(
        "domain_config",
        store.spark.createDataFrame(
            [("site0.com", 60, 4, 1.0, False)], DOMAIN_CONFIG_SCHEMA
        ),
    )
    feed_requests(
        store,
        [{"appid": "testapp", "crawlid": "zk", "url": f"http://site0.com/page/{j}",
          "priority": 10, "maxdepth": 0} for j in range(10)],
        CFG,
    )
    run_crawl(store, pages, CFG, max_rounds=5)
    per_round = (
        store.read("fetch_log", FETCH_LOG_SCHEMA)
        .groupBy("round").count().orderBy("round").collect()
    )
    assert [r["count"] for r in per_round] == [4, 4, 2]


def test_byte_identical_text_extraction(crawled_store, pages):
    # §5 test 10 at the crawled-output level: extracted text for every
    # successfully crawled url equals the pages.text column byte-for-byte
    from scrapy_cluster_spark.functions.html import extract_text_udf

    crawled = _crawled(crawled_store).filter("success = true")
    joined = crawled.select("url", extract_text_udf("body").alias("extracted")).join(
        pages.select("url", "text"), "url"
    )
    assert joined.filter(F.col("extracted") != F.col("text")).count() == 0
    assert joined.count() > 0


def test_fused_page_limits_equal_chained(spark):
    """apply_page_limits (one window pass, round-3 serial-floor fusion)
    is row-identical to the chained reference pair
    apply_domain_max_pages → apply_global_page_limit, including both
    delta tables, on a mixed corpus (limited/unlimited rows, non-zero
    priors, both caps binding)."""
    import random

    from scrapy_cluster_spark.operators import limits
    from scrapy_cluster_spark.plans.round import PAGE_COUNTS_SCHEMA

    rng = random.Random(5)
    rows = []
    for d in range(6):
        dlim = [None, 0, 4, 7][d % 4]
        for j in range(12):
            rows.append((
                "link", f"c{d % 2}", f"dom{d}.com", f"http://dom{d}.com/p/{j}",
                rng.randint(1, 100), dlim, 0,
            ))
    cand = spark.createDataFrame(
        rows,
        "spiderid string, crawlid string, domain string, url string, "
        "priority int, domain_max_pages int, retry_times int",
    )
    pc = spark.createDataFrame(
        [("link", "c0", "dom2.com", "domain", 2),
         ("link", "c0", "dom2.com", "global", 1),
         ("link", "c1", "dom3.com", "global", 3)],
        PAGE_COUNTS_SCHEMA,
    )
    glim = 6

    a1, d1 = limits.apply_domain_max_pages(cand, pc)
    a2, g1 = limits.apply_global_page_limit(a1, pc, glim)
    fused, d2, g2 = limits.apply_page_limits(cand, pc, glim)

    key = lambda r: (r["spiderid"], r["crawlid"], r["domain"], r["url"])
    assert sorted(map(key, a2.collect())) == sorted(map(key, fused.collect()))
    dk = lambda r: tuple(r)
    assert sorted(map(dk, d1.collect())) == sorted(map(dk, d2.collect()))
    assert sorted(map(dk, g1.collect())) == sorted(map(dk, g2.collect()))
    # no-global-limit path: deltas None, same survivors
    a1b, _ = limits.apply_domain_max_pages(cand, pc)
    fb, _, gb = limits.apply_page_limits(cand, pc, None)
    assert gb is None
    assert sorted(map(key, a1b.collect())) == sorted(map(key, fb.collect()))


def test_write_through_equals_cached_materialization(spark, pages):
    """The adaptive item-materialization paths (write-through for large
    batches vs cached items + concurrent append for small ones,
    plans/round.py) produce IDENTICAL crawl state: same crawled rows,
    same frontier, same seen set.  Forced via write_through_min_batch=0
    vs the default (bench rounds sit far below 200k rows)."""
    import shutil
    import tempfile

    from scrapy_cluster_spark.store import SnapshotStore

    def run(cfg):
        tmp = tempfile.mkdtemp(prefix="scs-wt-")
        st = SnapshotStore(spark, tmp)
        feed_requests(
            st,
            [{"appid": "wtapp", "crawlid": "wt", "url": "http://site1.com/page/0",
              "priority": 50, "maxdepth": 2}],
            cfg,
        )
        run_crawl(st, pages, cfg, max_rounds=6)
        crawled = sorted(
            (r.url, r.status_code, r.curdepth, len(r.links or []))
            for r in _crawled(st).collect()
        )
        seen = sorted(r.fingerprint for r in st.read("seen", SEEN_SCHEMA).collect())
        shutil.rmtree(tmp, ignore_errors=True)
        return crawled, seen

    cached = run(EngineConfig())                        # small path
    wt = run(EngineConfig(write_through_min_batch=0))   # forced write-through
    assert wt == cached and len(cached[0]) > 1


def test_partial_frontier_merge_equals_full(spark, pages):
    """cfg.frontier_partial_merge (store.overwrite_partitions — the
    dynamic-partition MERGE analog) rewrites only touched buckets; the
    committed frontier, fetch sequence, and crawled set are identical
    to the full-overwrite path across a multi-round crawl."""
    import shutil
    import tempfile

    from scrapy_cluster_spark.config import EngineConfig
    from scrapy_cluster_spark.schemas import CRAWLED_SCHEMA, FETCH_LOG_SCHEMA, FRONTIER_SCHEMA
    from scrapy_cluster_spark.store import SnapshotStore
    from scrapy_cluster_spark.synth import seed_requests

    outs = {}
    for partial in (False, True):
        cfg = EngineConfig(frontier_partial_merge=partial, queue_hits=3)
        tmp = tempfile.mkdtemp(prefix=f"scs-pm-{partial}-")
        store = SnapshotStore(spark, tmp)
        feed_requests(store, seed_requests(3, maxdepth=2), cfg)
        run_crawl(store, pages, cfg, max_rounds=4)
        outs[partial] = (
            sorted(
                (r.spiderid, r.crawlid, r.fingerprint, r.retry_times)
                for r in store.read("frontier", FRONTIER_SCHEMA).collect()
            ),
            sorted(
                (r.domain, r.round, r.slot_ts, r.url)
                for r in store.read("fetch_log", FETCH_LOG_SCHEMA).collect()
            ),
            sorted(
                (r.url, r.round)
                for r in store.read("crawled", CRAWLED_SCHEMA).collect()
            ),
        )
        shutil.rmtree(tmp, ignore_errors=True)
    assert outs[False] == outs[True]
