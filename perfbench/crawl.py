"""crawl_deep: a discovery crawl from one root per domain, with one
control-API info and one stats request after the measured rounds.

The page graph is synth's deterministic function of the sizes below; the
workload seed permutes the feed order, the seed priorities and the
request uuids.  Batches are small (hundreds to a few thousand URLs), so a
round is mostly fixed per-round cost: Spark jobs, snapshot commits,
footer reads and the lineage fsync.  The API requests read ``frontier``,
``crawled`` and ``metrics`` right after the round writes them.

Round 1 runs once, cold, in set-up; the store is then copied aside, and
each repetition restores that copy and runs round 2 from the same state,
so that every repetition does the same work.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from perfbench import geomean

N_DOMAINS = 500
BASE_PAGES = 200
ZIPF = 1.1
MAXDEPTH = 2
QUEUE_HITS = 12
ROUNDS = 2  # round 1 is set-up; the crawl would quiesce after round 3
REPS = 2  # repetitions of round 2, at the least
APPID = "benchapp"
CRAWLID = "deep"
SPIDER = "link"


def reference_crawl(seeds: list[dict], n_domains: int, base_pages: int, zipf: float,
                    hits: int, decay: int = 10) -> list[dict]:
    """Pure-Python model of the crawl: a breadth-first search over synth's
    link graph from the fed roots, one layer per round, with the
    scheduler's politeness cap.

    Each round pops at most ``hits`` URLs per domain, highest priority
    first (then URL); a fetched page below its seed's maxdepth yields its
    links at priority - ``decay`` and depth + 1; a link is a new candidate
    unless its canonical form (sorted query) was discovered before.  Fed
    seeds bypass the dupefilter, so a root that a link reaches later is
    fetched again.  Links that name no page (synth's query-permuted self
    link) are fetched and fail.  Returns one row per round until the
    frontier is empty: {scheduled, candidates, crawled_ok, frontier_depth,
    fetched, ok}."""
    from collections import defaultdict
    from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

    from scrapy_cluster_spark import synth

    counts = synth.domain_page_counts(n_domains, base_pages, zipf)
    index = {synth.page_url(d, j): (d, j) for d, n in enumerate(counts) for j in range(n)}

    def canon(u: str) -> str:
        p = urlsplit(u)
        return urlunsplit((p.scheme, p.netloc, p.path, urlencode(sorted(parse_qsl(p.query))), ""))

    frontier = [(s["url"], s["url"], s["priority"], 0, s["maxdepth"]) for s in seeds]
    discovered: set = set()
    rounds = []
    while frontier:
        by_host = defaultdict(list)
        for item in frontier:
            by_host[urlsplit(item[0]).hostname].append(item)
        popped, frontier = [], []
        for items in by_host.values():
            items.sort(key=lambda it: (-it[2], it[0]))
            popped += items[:hits]
            frontier += items[hits:]
        new: dict = {}
        for raw, key, prio, depth, maxdepth in popped:
            if key not in index or depth >= maxdepth:
                continue
            for link in synth.page_links(*index[key], counts):
                c = canon(link)
                if c not in discovered and (c not in new or new[c][2] < prio - decay):
                    new[c] = (link, c, prio - decay, depth + 1, maxdepth)
        discovered |= new.keys()
        frontier += new.values()
        ok = {it[0] for it in popped if it[1] in index}
        rounds.append({
            "scheduled": len(popped), "candidates": len(new), "crawled_ok": len(ok),
            "frontier_depth": len(frontier), "fetched": {it[0] for it in popped}, "ok": ok,
        })
    return rounds


class CrawlDeep:
    def __init__(self, spark, store_root: str, seed: int, tracer):
        from scrapy_cluster_spark.config import EngineConfig

        self.spark = spark
        self.store_root = store_root
        self.rng = random.Random(seed)
        self.tracer = tracer
        # retry_times=0: synth's query-permuted links name no page, and
        # retrying them only appends identical empty rounds
        self.cfg = EngineConfig(queue_hits=QUEUE_HITS, frontier_buckets=32, retry_times=0)
        self.rounds: list[dict] = []  # lineage rows, one per round
        self.api: list[dict] = []  # one row per API request
        self.problems: list[str] = []
        self.failed = 0
        self.attempted = 0
        self.feed_s = 0.0

    # ---- set-up: pages, seed feed, cold first round --------------------
    def setup(self) -> None:
        from scrapy_cluster_spark import synth
        from scrapy_cluster_spark.plans.crawl import feed_requests
        from scrapy_cluster_spark.store import SnapshotStore

        self.pages = synth.generate_pages(self.spark, N_DOMAINS, BASE_PAGES, ZIPF).cache()
        self.pages.count()
        self.store = SnapshotStore(self.spark, self.store_root)
        seeds = synth.seed_requests(N_DOMAINS, appid=APPID, crawlid=CRAWLID, maxdepth=MAXDEPTH)
        for s in seeds:
            s["priority"] = self.rng.randint(40, 60)
        self.rng.shuffle(seeds)
        self.seeds = seeds
        _, self.feed_s, _ = self.tracer.call(
            "plans.crawl", feed_requests, self.store, seeds, self.cfg, parent="setup"
        )
        self.versions = None
        # the first round is cold (worker spawn, codegen): set-up, not
        # measurement.  Every repetition starts from its output.
        self._round(1, measured=False)
        self.snapshot = (self.store_root + ".round1", self.versions)
        shutil.copytree(self.store_root, self.snapshot[0])

    def _restore(self) -> None:
        """Puts the store back as round 1 left it (manifests name files by
        absolute path, so the copy goes back to the same place)."""
        shutil.rmtree(self.store_root)
        shutil.copytree(self.snapshot[0], self.store_root)
        self.versions = self.snapshot[1]

    def _round(self, round_id: int, measured: bool = True) -> None:
        from scrapy_cluster_spark.plans.round import run_round

        self.attempted += 1
        try:
            lineage, wall, span = self.tracer.call(
                "plans.round", run_round, self.store, self.pages, round_id, self.cfg,
                self.versions, parent=f"step-{round_id}",
            )
        except Exception as e:  # a failed round ends the crawl
            self.failed += 1
            self.problems.append(f"round {round_id} raised {type(e).__name__}: {e}")
            raise
        self.versions = lineage["outputs"]
        row = {"round": round_id, "wall_s": wall, "measured": measured, "span": span, **{
            k: lineage[k] for k in ("scheduled", "candidates", "crawled_ok", "frontier_depth")
        }}
        if span is not None:
            row["files_live"], row["bytes_live"] = _tree_size(self.store_root)
        self.rounds.append(row)

    def _api_pair(self, round_id: int) -> None:
        """One info (by appid) and one stats request, fed, processed in
        one control pass and polled; each request's latency runs from its
        feed to the poll that returns its ack."""
        from scrapy_cluster_spark.operators.control import feed_action, poll_outbound, process_actions

        def call(*args, **kwargs):
            return self.tracer.call(*args, parent=f"step-{round_id}", **kwargs)

        reqs = [
            {"action": "info", "uuid": self._uuid(), "spiderid": SPIDER, "appid": APPID},
            {"action": "stats", "uuid": self._uuid(), "stats": "all"},
        ]
        t_feed, spans = {}, []
        self.attempted += len(reqs)
        try:
            for r in reqs:
                t_feed[r["uuid"]] = time.time()
                _, _, sp = call("operators.control", feed_action, self.store, r)
                spans.append(sp)
            _, proc_s, sp = call("operators.control", process_actions, self.store, round_id=round_id)
            spans.append(sp)
            acks = {}
            for r in reqs:
                ack, poll_s, sp = call("operators.control", poll_outbound, self.store, r["uuid"])
                spans.append(sp)
                acks[r["uuid"]] = (ack, time.time() - t_feed[r["uuid"]], poll_s)
        except Exception as e:
            self.failed += len(reqs)
            self.problems.append(f"API after round {round_id} raised {type(e).__name__}: {e}")
            return
        # untimed: the info payload must agree with the frontier it read
        pending = None
        for r in reqs:
            ack, latency, poll_s = acks[r["uuid"]]
            ok = ack is not None and ack.get("action") == r["action"]
            if ok and r["action"] == "info":
                if pending is None:
                    pending = self._frontier_rows(APPID)
                got = (ack.get("payload") or {}).get("total_pending")
                if got != pending:
                    ok = False
                    self.problems.append(
                        f"round {round_id}: info total_pending {got} != frontier rows {pending}"
                    )
            if not ok:
                self.failed += 1
                if ack is None:
                    self.problems.append(f"round {round_id}: no ack for {r['action']}")
            self.api.append({
                "round": round_id, "action": r["action"], "latency_s": latency, "ok": ok,
                "process_s": proc_s, "poll_s": poll_s,
            })
        if spans[0] is not None:
            self.api[-1]["pair_jobs"] = sum(s["jobs"] for s in spans)

    def _uuid(self) -> str:
        return "%032x" % self.rng.getrandbits(128)

    def _frontier_rows(self, appid: str) -> int:
        from pyspark.sql import functions as F

        from scrapy_cluster_spark.schemas import FRONTIER_SCHEMA

        return self.store.read("frontier", FRONTIER_SCHEMA).filter(F.col("appid") == appid).count()

    # ---- measurement ---------------------------------------------------
    def run(self, deadline: float) -> None:
        """Whole repetitions of round 2, each from the state round 1 left,
        until the deadline (at least REPS), then the API requests.  The
        restore is untimed."""
        reps = 0
        while reps < REPS or time.time() < deadline:
            self._restore()
            self._round(ROUNDS)
            reps += 1
        self._api_pair(ROUNDS)

    # ---- output checks (untimed) ----------------------------------------
    def check(self) -> None:
        """Checks the crawl's state (as the last repetition left it) and
        every round's counts against the reference crawl; any difference
        fails the measured rounds."""
        from pyspark.sql import functions as F

        from scrapy_cluster_spark.functions.html import extract_text_udf
        from scrapy_cluster_spark.schemas import CRAWLED_SCHEMA, FETCH_LOG_SCHEMA, SEEN_SCHEMA

        n_before = len(self.problems)
        model = reference_crawl(self.seeds, N_DOMAINS, BASE_PAGES, ZIPF, QUEUE_HITS)[:ROUNDS]
        crawled = self.store.read("crawled", CRAWLED_SCHEMA)
        got = crawled.select("url", "success").collect()
        want_ok = set().union(*(r["ok"] for r in model))
        want_all = set().union(*(r["fetched"] for r in model))
        got_ok = {r.url for r in got if r.success}
        if got_ok != want_ok:
            self.problems.append(
                f"success URLs {len(got_ok)} != reference pages {len(want_ok)} "
                f"(missing {len(want_ok - got_ok)}, extra {len(got_ok - want_ok)})"
            )
        got_all = {r.url for r in got}
        if got_all != want_all:
            self.problems.append(f"fetched URLs {len(got_all)} != reference {len(want_all)}")
        keys = ("scheduled", "candidates", "crawled_ok", "frontier_depth")
        actual = [tuple(r[k] for k in keys) for r in self.rounds]
        expect = [tuple(model[r["round"] - 1][k] for k in keys) for r in self.rounds]
        if actual != expect:
            self.problems.append(f"per-round {keys} {actual} != reference {expect}")
        if len(got) != sum(r["scheduled"] for r in model):
            self.problems.append(f"{len(got)} crawled rows != {sum(r['scheduled'] for r in model)} fetches")

        fetch_log = self.store.read("fetch_log", FETCH_LOG_SCHEMA)
        worst = fetch_log.groupBy("round", "throttle_key").count().agg(F.max("count")).first()[0]
        if worst is None or worst > QUEUE_HITS:
            self.problems.append(f"a throttle key got {worst} fetches in one round (> {QUEUE_HITS})")

        seen = self.store.read("seen", SEEN_SCHEMA)
        dup = seen.groupBy("crawlid", "fingerprint").count().filter("count > 1").count()
        if dup:
            self.problems.append(f"{dup} (crawlid, fingerprint) pairs repeat in seen")

        ok = crawled.filter("success").select("url", extract_text_udf("body").alias("got"))
        bad = ok.join(self.pages.select("url", "text"), "url", "left").filter(
            ~F.col("got").eqNullSafe(F.col("text"))
        ).count()
        if bad:
            self.problems.append(f"{bad} crawled pages' extracted text differs from pages.text")
        if len(self.problems) > n_before:
            self.failed += sum(r["measured"] for r in self.rounds)

    def close(self) -> None:
        self.pages.unpersist()

    # ---- metrics ---------------------------------------------------------
    def _urls_per_s(self) -> tuple[float, list[float]]:
        """(scheduled + candidates) over run_round wall time, summed over
        the measured rounds: bench.crawl_throughput's formula."""
        m = [r for r in self.rounds if r["measured"]]
        round_s = [r["wall_s"] for r in m]
        return sum(r["scheduled"] + r["candidates"] for r in m) / sum(round_s), round_s

    def end_to_end(self) -> dict:
        api_s = [a["latency_s"] for a in self.api]
        return {"work_per_s": self._urls_per_s()[0], "request_s_geomean": geomean(api_s)}

    def report(self) -> dict:
        """Per-operation figures for the report lines: name -> (value, unit, samples)."""
        urls_per_s, round_s = self._urls_per_s()
        api_s = [a["latency_s"] for a in self.api]
        return {
            "crawl_urls_per_s": (urls_per_s, "urls/s", len(round_s)),
            "round_s_p50": (statistics.median(round_s), "s", len(round_s)),
            "api_s_p50": (statistics.median(api_s), "s", len(api_s)),
        }

    def detail(self) -> list[str]:
        return [
            f"round {r['round']}: {r['wall_s']:.3f} s, scheduled {r['scheduled']}, "
            f"candidates {r['candidates']}{'' if r['measured'] else ' (set-up)'}"
            for r in self.rounds
        ] + [
            f"api {a['action']} after round {a['round']}: {a['latency_s']:.3f} s"
            for a in self.api
        ]

    def per_layer(self) -> dict:
        m = [r for r in self.rounds if r["measured"]]
        spans = [r["span"] for r in m]
        urls = sum(r["scheduled"] + r["candidates"] for r in m)
        med = lambda k: statistics.median(s[k] for s in spans)  # noqa: E731
        api = self.api
        # each repetition starts from round 1's store
        written = sum(r["bytes_live"] - self.rounds[0]["bytes_live"] for r in m)
        return {
            "plans.round.jobs": med("jobs"),
            "plans.round.stages": med("stages"),
            "plans.round.driver_s": med("driver_s"),
            "plans.round.executor_run_s": med("executor_run_s"),
            "plans.round.executor_cpu_s": med("executor_cpu_s"),
            "plans.round.gc_s": med("gc_s"),
            "plans.round.shuffle_write_bytes_per_url": sum(s["shuffle_write_bytes"] for s in spans) / urls,
            "plans.round.shuffle_read_bytes": med("shuffle_read_bytes"),
            "plans.round.spill_bytes": med("spill_bytes"),
            "plans.round.input_bytes": med("input_bytes"),
            "store.write_s": med("store_write_s"),
            "store.write_calls": med("store_write_calls"),
            "store.bytes_written_per_url": written / urls,
            "store.files_live": m[-1]["files_live"],
            "plans.crawl.feed_s": self.feed_s,
            "operators.control.process_actions_s": statistics.median(a["process_s"] for a in api),
            "operators.control.poll_s": statistics.median(a["poll_s"] for a in api),
            "operators.control.jobs_per_request": statistics.median(
                a["pair_jobs"] / 2 for a in api if "pair_jobs" in a
            ),
        }


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
