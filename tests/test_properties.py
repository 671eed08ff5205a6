"""Property-based tests (hypothesis): invariants that fixture tests
can't sweep — random inputs against semantic contracts.

Spark jobs are slow per example, so Spark-backed properties cap
max_examples and disable deadlines; pure-Python properties run the
default budget.
"""

import string

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from scrapy_cluster_spark.functions.url import canonicalize_url, request_fingerprint

# ---------------------------------------------------------------------------
# pure-Python: URL canonicalization contract (scrapy/w3lib parity layer)
# ---------------------------------------------------------------------------

_url_chars = string.ascii_letters + string.digits + "-._~:/?#[]@!$&'()*+,;=% "
urls = st.builds(
    lambda host, path, q: f"http://{host}.com/{path}" + (f"?{q}" if q else ""),
    st.text(string.ascii_lowercase + string.digits, min_size=1, max_size=12),
    st.text(_url_chars, max_size=30),
    st.text(_url_chars, max_size=20),
)


@given(urls)
def test_canonicalize_idempotent(u):
    """canonicalize ∘ canonicalize ≡ canonicalize — the dupefilter key
    must be a fixpoint or re-queued URLs would re-fingerprint as new."""
    c1 = canonicalize_url(u)
    assert canonicalize_url(c1) == c1


@given(urls)
def test_fingerprint_follows_canonical_form(u):
    """Two spellings with the same canonical form share a fingerprint
    (redis_dupefilter keys by request_fingerprint of the canonical
    URL)."""
    c = canonicalize_url(u)
    assert request_fingerprint(u) == request_fingerprint(c)


@given(st.lists(st.tuples(
    st.sampled_from(["a", "b", "k"]),
    st.text(string.ascii_lowercase, min_size=1, max_size=6),
), max_size=8))
def test_fingerprint_query_order_invariant(pairs):
    """Query-param ORDER never changes the fingerprint (scrapy
    canonicalization sorts query keys)."""
    qs1 = "&".join(f"{k}={v}" for k, v in pairs)
    qs2 = "&".join(f"{k}={v}" for k, v in sorted(pairs))
    u1 = f"http://ex.com/p?{qs1}"
    u2 = f"http://ex.com/p?{qs2}"
    assert request_fingerprint(u1) == request_fingerprint(u2)


# ---------------------------------------------------------------------------
# Spark-backed: fused page limits ≡ chained reference pair, any input
# ---------------------------------------------------------------------------

cand_rows = st.lists(
    st.tuples(
        st.sampled_from(["c0", "c1"]),                      # crawlid
        st.integers(min_value=0, max_value=3),              # domain idx
        st.integers(min_value=0, max_value=30),             # page idx
        st.integers(min_value=1, max_value=100),            # priority
        st.sampled_from([None, 0, 2, 5]),                   # domain_max_pages
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1], t[2]),
)
prior_rows = st.lists(
    st.tuples(
        st.sampled_from(["c0", "c1"]),
        st.integers(min_value=0, max_value=3),
        st.sampled_from(["domain", "global"]),
        st.integers(min_value=1, max_value=4),
    ),
    max_size=6,
    unique_by=lambda t: (t[0], t[1], t[2]),
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cand_rows, prior_rows, st.sampled_from([None, 3, 6]))
def test_fused_page_limits_property(spark, cands, priors, glim):
    """apply_page_limits ≡ apply_domain_max_pages → apply_global_page_limit
    for ARBITRARY candidates, prior counters, and cap configurations —
    survivors and both delta tables row-identical."""
    from scrapy_cluster_spark.operators import limits
    from scrapy_cluster_spark.plans.round import PAGE_COUNTS_SCHEMA

    cand = spark.createDataFrame(
        [("link", c, f"dom{d}.com", f"http://dom{d}.com/p/{j}", p, dmp, 0)
         for c, d, j, p, dmp in cands],
        "spiderid string, crawlid string, domain string, url string, "
        "priority int, domain_max_pages int, retry_times int",
    )
    pc = spark.createDataFrame(
        [("link", c, f"dom{d}.com", k, n) for c, d, k, n in priors],
        PAGE_COUNTS_SCHEMA,
    )
    a1, d1 = limits.apply_domain_max_pages(cand, pc)
    a2, g1 = limits.apply_global_page_limit(a1, pc, glim)
    fused, d2, g2 = limits.apply_page_limits(cand, pc, glim)

    key = lambda r: (r["crawlid"], r["domain"], r["url"])
    assert sorted(map(key, a2.collect())) == sorted(map(key, fused.collect()))
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))
    if glim is None:
        assert g1 is None and g2 is None
    else:
        assert sorted(map(tuple, g1.collect())) == sorted(map(tuple, g2.collect()))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
       st.integers(min_value=1, max_value=3))
def test_bitmap_counter_property(spark, idxs, n_groups):
    """bitmap_counter ≡ COUNT(DISTINCT) for arbitrary non-negative
    indexes and groupings (word packing has no edge cases)."""
    from scrapy_cluster_spark.operators.stats import bitmap_counter

    df = spark.createDataFrame(
        [(i, str(i % n_groups)) for i in idxs], "idx long, grp string"
    )
    got = {r.grp: r.value for r in bitmap_counter(df, "idx", ["grp"]).collect()}
    want = {
        r.grp: r.d
        for r in df.groupBy("grp").agg(F.countDistinct("idx").alias("d")).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40),
       st.integers(min_value=1, max_value=200),
       st.integers(min_value=1, max_value=7))
def test_pack_shards_property(spark, token_counts, budget, n_parts):
    """pack_shards ≡ the naive global exclusive prefix sum for ANY
    token distribution / budget / chunking: tokens_before is the exact
    running sum and shard_id its floor-div — the distributed prefix sum
    may never drift from the sequential contract."""
    from scrapy_cluster_spark.functions.corpus import pack_shards

    df = spark.createDataFrame(
        [(i, int(t)) for i, t in enumerate(token_counts)], "doc_id long, n long"
    )
    got = {r.doc_id: (r.tokens_before, r.shard_id)
           for r in pack_shards(df, "n", budget, n_parts=n_parts).collect()}
    acc = 0
    for i, t in enumerate(token_counts):
        assert got[i] == (acc, acc // budget)
        acc += t


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=500),
                          st.sampled_from(["en", "de", "fr"])),
                min_size=1, max_size=50, unique_by=lambda t: t[0]),
       st.integers(min_value=1, max_value=5))
def test_stratified_sample_property(spark, rows, cap):
    """For any id/stratum distribution: per-stratum counts =
    min(stratum size, cap), and the selection is a pure function of
    (seed, ids) — identical under arbitrary repartitioning."""
    from collections import Counter

    from scrapy_cluster_spark.functions.corpus import stratified_sample

    df = spark.createDataFrame([(i, s) for i, s in rows], "doc_id long, lang string")
    got = stratified_sample(df, ["lang"], cap).collect()
    sizes = Counter(s for _, s in rows)
    per = Counter(r.lang for r in got)
    assert per == Counter({s: min(n, cap) for s, n in sizes.items() if min(n, cap)})
    again = {r.doc_id for r in
             stratified_sample(df.repartition(5), ["lang"], cap).collect()}
    assert again == {r.doc_id for r in got}


# ---------------------------------------------------------------------------
# pure-Python: streaming politeness gate ≡ the reference zset algorithm
# ---------------------------------------------------------------------------

def _zset_gate(ts_list, hits, window_s):
    """Naive per-event transliteration of RedisThrottledQueue.allowed()
    (utils/scutils/redis_throttled_queue.py:112-157): evict admitted
    hits scored <= now - window (zremrangebyscore '-inf'..now-window is
    inclusive), admit iff fewer than ``hits`` remain, zadd on success."""
    zset, out = [], []
    for t in ts_list:
        zset = [a for a in zset if a > t - window_s]
        ok = len(zset) < hits
        if ok:
            zset.append(t)
        out.append(ok)
    return out, zset


gate_events = st.lists(
    st.floats(min_value=0, max_value=300, allow_nan=False, width=32),
    min_size=1, max_size=80,
)


@given(gate_events,
       st.integers(min_value=1, max_value=6),
       st.integers(min_value=1, max_value=90))
def test_gate_batch_matches_reference_zset(ts, hits, window_s):
    """_gate_batch over a sorted timestamp array admits EXACTLY the
    events the reference's per-event zset check admits — the vectorized
    run-skipping loop may never diverge from the transliteration."""
    from collections import deque

    import numpy as np

    from scrapy_cluster_spark.streaming.throttle_stream import _gate_batch

    ts_sorted = sorted(ts)
    window: deque = deque()
    got = _gate_batch(
        np.array(ts_sorted, dtype=np.float64), window, hits, float(window_s)
    )
    want, zset = _zset_gate(ts_sorted, hits, float(window_s))
    assert got.tolist() == want
    # carried state equals the reference zset trimmed to the last event
    assert sorted(window) == sorted(zset)


@given(gate_events,
       st.integers(min_value=1, max_value=6),
       st.integers(min_value=1, max_value=90),
       st.lists(st.integers(min_value=1, max_value=79), max_size=6, unique=True))
def test_gate_batch_split_invariant(ts, hits, window_s, cuts):
    """Replaying a time-ordered event stream in arbitrary consecutive
    micro-batches — carrying (window, hwm) across batches exactly as
    _gate_fn's state does — admits the same events as one batch:
    micro-batch boundaries are invisible to the budget.  (Arrival time
    is monotonic in the reference — Redis time at pop — so the sorted
    stream is the semantic case; out-of-order event time goes through
    the hwm clamp, covered by the zset-parity property and the
    cannot-mint-budget unit test.)"""
    from collections import deque

    import numpy as np

    from scrapy_cluster_spark.streaming.throttle_stream import _gate_batch

    arr = np.sort(np.array(ts, dtype=np.float64))

    def run(chunks):
        window: deque = deque()
        hwm = float("-inf")
        out = []
        for c in chunks:
            if not len(c):
                continue
            eff = np.maximum.accumulate(np.maximum(c, hwm))
            hwm = float(eff[-1])
            out.extend(_gate_batch(eff, window, hits, float(window_s)).tolist())
        return out, sorted(window)

    bounds = sorted(b for b in cuts if b < len(arr))
    split = np.split(arr, bounds) if bounds else [arr]
    got_adm, got_win = run(split)
    want_adm, want_win = run([arr])
    assert got_adm == want_adm
    assert got_win == want_win


# ---------------------------------------------------------------------------
# Spark-backed: shared_token_spans ≡ naive per-pair diagonal scan
# ---------------------------------------------------------------------------

def _naive_spans(token_lists, k, min_len):
    """Brute-force dot plot: maximal equal-token diagonal runs of
    length >= min_len for every doc pair (a < b).  For min_len >= k
    this is exactly what the gram-postings plan must produce."""
    out = set()
    for a in range(len(token_lists)):
        for b in range(a + 1, len(token_lists)):
            ta, tb = token_lists[a], token_lists[b]
            for diag in range(-len(tb) + 1, len(ta)):
                i = max(0, diag)
                j = i - diag
                run = 0
                while i <= len(ta) and j <= len(tb):
                    if i < len(ta) and j < len(tb) and ta[i] == tb[j]:
                        run += 1
                    else:
                        if run >= min_len:
                            out.add((a, b, i - run + 1, j - run + 1, run))
                        run = 0
                    i += 1
                    j += 1
    return out


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=1, max_size=18),
    min_size=2, max_size=5,
))
def test_shared_spans_property(spark, token_lists):
    """Over a 3-word vocab (dense accidental matches, overlapping
    diagonals, runs touching doc boundaries) the distributed plan's
    span set equals the brute-force diagonal scan."""
    from scrapy_cluster_spark.functions.spans import shared_token_spans

    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(token_lists)],
        ["doc_id", "text"],
    )
    got = {
        (r.a, r.b, r.a_start, r.b_start, r.length)
        for r in shared_token_spans(docs, k=2, min_len=3).collect()
    }
    assert got == _naive_spans(token_lists, 2, 3)


# ---------------------------------------------------------------------------
# corpus profiling (functions/lm.py): information-theoretic invariants +
# a pure-Python reference implementation on random corpora
# ---------------------------------------------------------------------------

_lm_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "dd", "eee"]), min_size=1, max_size=12),
    min_size=1, max_size=8,
)


def _py_lm(doc_tokens):
    """Reference: per-doc entropy + corpus-unigram cross-entropy."""
    import math
    from collections import Counter

    corpus = Counter()
    for toks in doc_tokens:
        corpus.update(toks)
    total = sum(corpus.values())
    out = {}
    for i, toks in enumerate(doc_tokens):
        c = Counter(toks)
        n = len(toks)
        ent = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        xent = math.log(total) - sum(v * math.log(corpus[t]) for t, v in c.items()) / n
        out[i] = (round(ent, 6), round(xent, 6))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_lm_docs, st.integers(min_value=1, max_value=8))
def test_lm_scores_match_reference_and_bounds(spark, doc_tokens, n_parts):
    """Entropy/xent equal a pure-Python reference, respect
    0 ≤ H ≤ ln(L) and X ≥ H (Gibbs), and are invariant to input
    partitioning (float-sum order must not leak into rounded output)."""
    import math

    from scrapy_cluster_spark.functions import lm as L

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(doc_tokens)],
        ["doc_id", "text"],
    ).repartition(n_parts)
    ent = {r.doc_id: r for r in L.token_entropy(df).collect()}
    xent = {r.doc_id: r for r in L.unigram_xent(df).collect()}
    ref = _py_lm(doc_tokens)
    for i, toks in enumerate(doc_tokens):
        re_, rx = ref[i]
        assert abs(ent[i].entropy - re_) < 2e-6
        assert abs(xent[i].xent - rx) < 2e-6
        # upper-bound tolerance must cover the engine's 6-dp rounding
        # quantum (5e-7): for a uniform distribution the true entropy IS
        # ln(L) and round(ln 5, 6) = 1.609438 > ln 5 by ~8.8e-8 — the
        # hypothesis-found boundary case pinned below in
        # test_lm_entropy_uniform_boundary
        assert -1e-9 <= ent[i].entropy <= math.log(len(toks)) + 5e-7
        assert xent[i].xent >= ent[i].entropy - 2e-6
        assert ent[i].n_tokens == len(toks)


_raw_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(
            # printable tokens, ASCII whitespace, unicode whitespace
            # (U+00A0 NBSP, U+2009 thin space) and control chars — the
            # exact seams where a Python tokenizer can diverge from the
            # JVM split(trim(text), '\\s+')
            list("abXY9.,") + [" ", "\t", "\n", "\r", "\x0b", "\x0c",
                               "\u00a0", "\u2009", "\x00", "\x1f"]
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_raw_texts)
def test_doc_token_counts_matches_explode_formulation(spark, texts):
    """Round-6: the shuffle-free mapInPandas doc_token_counts must be
    ROW-IDENTICAL to the original explode → groupBy(doc_id, token)
    formulation, including on unicode whitespace / control characters
    (Java regex \\s is ASCII-only and Spark's trim strips 0x20 only —
    a unicode-aware Python strip/split would silently diverge)."""
    from pyspark.sql import functions as F

    from scrapy_cluster_spark.functions import lm as L
    from scrapy_cluster_spark.functions.text import tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    legacy = (
        df.select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    got = sorted((r.doc_id, r.token, r.c)
                 for r in L.doc_token_counts(df).collect())
    want = sorted((r.doc_id, r.token, r.c) for r in legacy.collect())
    assert got == want


def test_lm_entropy_uniform_boundary(spark):
    """Pinned hypothesis falsifying example (round-5 verdict #1): a
    uniform 5-token doc has true entropy exactly ln 5, and the 6-dp
    rounding yields 1.609438 — 8.8e-8 ABOVE the bound, inside the
    rounding quantum, which the tolerance must admit."""
    import math

    from scrapy_cluster_spark.functions import lm as L

    df = spark.createDataFrame([(0, "a b c dd eee")], ["doc_id", "text"])
    row = L.token_entropy(df).collect()[0]
    assert row.entropy == round(math.log(5), 6)
    assert row.entropy <= math.log(5) + 5e-7


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_lm_docs)
def test_vocab_topk_is_exact_head(spark, doc_tokens):
    """vocab_topk(k) equals the first k rows of the full vocabulary
    under (tf desc, token asc) — the two-phase TakeOrdered path must
    agree with a full sort."""
    from scrapy_cluster_spark.functions import lm as L

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(doc_tokens)],
        ["doc_id", "text"],
    )
    full = sorted(
        ((r.token, r.tf, r.df_docs)
         for r in L.vocab(L.doc_token_counts(df)).collect()),
        key=lambda t: (-t[1], t[0]),
    )
    for k in (1, 3):
        got = [(r.token, r.tf, r.df_docs)
               for r in sorted(L.vocab_topk(df, k=k).collect(),
                               key=lambda r: r.rank)]
        assert got == full[:k]


# ---------------------------------------------------------------------------
# Spark-backed: cuckoo sidecar on ≡ sidecar off in the dupefilter
# ---------------------------------------------------------------------------

_dupe_cands = st.lists(
    st.tuples(
        st.sampled_from(["c0", "c1"]),                      # crawlid
        st.integers(min_value=0, max_value=11),             # fingerprint idx
        st.integers(min_value=0, max_value=3),              # bucket
        st.booleans(),                                      # dont_filter
    ),
    min_size=1,
    max_size=30,                                            # repeats allowed
)
_dupe_seen = st.lists(
    st.tuples(
        st.sampled_from(["c0", "c1"]),
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=2),              # bucket 3: never seen
    ),
    max_size=30,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cands=_dupe_cands, seen=_dupe_seen, m=st.sampled_from([2, 1 << 10]),
       stale=st.lists(st.integers(min_value=0, max_value=11), max_size=4))
@example(  # empty seen: no filter rows at all
    cands=[("c0", 1, 0, False), ("c0", 1, 0, False), ("c1", 2, 3, True)],
    seen=[], m=1 << 10, stale=[],
)
@example(  # saturated tiny filter + duplicate and dont_filter candidates
    cands=[("c0", i % 6, 0, i % 5 == 0) for i in range(14)] + [("c1", 3, 3, False)],
    seen=[("c0", i, 0) for i in range(10)] + [("c1", 3, 1)], m=2, stale=[11],
)
def test_cuckoo_dupefilter_equals_plain(spark, cands, seen, m, stale):
    """apply_dupefilter with the cuckoo sidecar returns the same
    multisets of passed rows and seen inserts as the plain anti-join —
    with an empty seen table, candidate buckets that have no filter row,
    saturated filters, repeated candidates, dont_filter bypass rows and
    stale fingerprints the filter holds but seen does not."""
    import hashlib

    from scrapy_cluster_spark.operators.cuckoo import build_cuckoo
    from scrapy_cluster_spark.operators.dedupe import apply_dupefilter
    from scrapy_cluster_spark.schemas import SEEN_SCHEMA

    def fp(i):
        return hashlib.sha1(f"u{i}".encode()).hexdigest()

    cand = spark.createDataFrame(
        [("link", c, f"http://d.com/{i}", fp(i), b, df)
         for c, i, b, df in cands],
        "spiderid string, crawlid string, url string, fingerprint string, "
        "bucket int, dont_filter boolean",
    )
    seen_df = spark.createDataFrame(
        [("link", c, fp(i), 1, b) for c, i, b in seen], SEEN_SCHEMA
    )
    # the engine builds the sidecar from seen; stale extra fps (e.g. left
    # by a retention pass) may only cause false positives, never drops
    stale_df = spark.createDataFrame(
        [("link", "c0", fp(i), 0, b) for i in stale for b in range(3)], SEEN_SCHEMA
    )
    cuckoos = build_cuckoo(seen_df.unionByName(stale_df), m=m)

    def rows(df):
        return sorted(map(tuple, df.select(*cand.columns).collect()))

    plain_passed, plain_ins = apply_dupefilter(cand, seen_df)
    ck_passed, ck_ins = apply_dupefilter(cand, seen_df, cuckoos)
    assert rows(ck_passed) == rows(plain_passed)
    assert rows(ck_ins) == rows(plain_ins)
