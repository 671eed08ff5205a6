"""Operator layer — one module per reference operator family (SURVEY.md §2).

ingest    crawl-request validation + defaults + frontier insert (§2.1/§2.2)
dedupe    URL-seen probe (anti-join; opt-in cuckoo prefilter)       (§2.2)
cuckoo    deletable per-bucket membership sidecar for dedupe        (§2.2)
limits    page-limit / blacklist / expiry / zk-domain filters       (§2.2)
throttle  politeness quota + moderation slots                       (§2.3)
ranking   per-domain priority top-k (two-phase, skew-salted)        (§2.3)
fetch     simulated fetch (join vs pages) + RawResponseItem rows    (§2.3/§2.4)
parse     link explode, allow/deny filters, depth decay, retries    (§2.4)
robots    per-domain robots.txt rule cache + prefix filter (north_star)
control   stop/expire/info/stats/zk actions                         (§2.6)
stats     rolling/HLL/rollup aggregations                           (§2.5)
"""
