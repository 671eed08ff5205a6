"""Outbound sink projections.

Reference sinks: KafkaPipeline serializes each RawResponseItem to JSON
(sorted keys) and produces to ``<prefix>.crawled_firehose`` plus an
optional per-appid topic (crawler/crawling/pipelines.py:176-216,
topics :201-211); the body is optionally base64-encoded (:187-195,
flag settings.py:20).  The canonical rebuild sink is the ``crawled``
table itself; these projections produce the Kafka-wire-format rows for
deployments that also feed Kafka (df.write.format('kafka') takes a
``value`` column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# RawResponseItem fields in the firehose message (items.py:8-23 +
# timestamp pipelines.py:134-138)
_FIREHOSE_FIELDS = [
    "appid", "crawlid", "url", "response_url", "status_code", "status_msg",
    "response_headers", "request_headers", "attrs", "success", "exception",
    "encoding", "timestamp", "links",
]


def crawled_firehose_json(crawled: DataFrame, use_base64: bool = False) -> DataFrame:
    """crawled rows → (appid, value) JSON strings, the firehose message.

    Wire parity with ``ujson.dumps(datum, sort_keys=True)``
    (pipelines.py:198): the struct is built in SORTED field order
    (to_json emits struct order) and null fields are kept
    (ignoreNullFields=false — ujson serializes None as null, Spark's
    default drops the key).  ``use_base64`` mirrors KAFKA_BASE_64_ENCODE
    (pipelines.py:187-195)."""
    body = F.base64(F.col("body")) if use_base64 else F.col("body").cast("string")
    cols = {c: F.col(c) for c in _FIREHOSE_FIELDS}
    cols["body"] = body
    payload = F.to_json(
        F.struct(*[cols[name].alias(name) for name in sorted(cols)]),
        {"ignoreNullFields": "false"},
    )
    return crawled.select(F.col("appid"), payload.alias("value"))


# LoggingBeforePipeline/_clean_item drops the bulky response fields and
# stamps the ack before emitting an item to the log stream
# (pipelines.py:140-154): body, links, response_headers, request_headers,
# status_code, status_msg are removed; action='ack' + logger name added.
_LOG_DROPPED = {
    "body", "links", "response_headers", "request_headers",
    "status_code", "status_msg",
}


def log_sink_json(crawled: DataFrame, logger_name: str = "scrapy-cluster") -> DataFrame:
    """crawled rows → sorted-key JSON log lines with bulky fields
    dropped — the log/console sink (SURVEY §2.1)."""
    cols = {
        c: F.col(c) for c in _FIREHOSE_FIELDS + ["spiderid"] if c not in _LOG_DROPPED
    }
    cols["action"] = F.lit("ack")
    cols["logger"] = F.lit(logger_name)
    payload = F.to_json(
        F.struct(*[cols[name].alias(name) for name in sorted(cols)]),
        {"ignoreNullFields": "false"},
    )
    return crawled.select(payload.alias("value"))
