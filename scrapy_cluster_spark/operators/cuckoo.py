"""Cuckoo-filter sidecars for the URL-seen probe — the deletable
membership structure.

north_rule: "a bloom/cuckoo URL-seen membership structure built and
merged per-partition via vectorized Arrow UDFs".  This module is the
engine's one such sidecar, opt-in via ``EngineConfig.use_cuckoo``: the
cuckoo filter (Fan et al., CoNEXT'14 — public algorithm): b-slot
buckets of 16-bit fingerprints, candidate buckets i1 = h(x) mod m and
i2 = i1 XOR h(fp16), insert-with-eviction.  What cuckoo buys over a
bloom filter is DELETE — the dupefilter TTL expiry (reference EXPIREs
dupefilter keys, redis_dupefilter.py:27; operators/retention.py is the
snapshot analog) can remove aged fingerprints in place instead of
rebuilding the sidecar from the retained seen rows.

State model: ONE filter row per domain-hash bucket, maintained across
rounds (upsert new fps / delete expired fps via applyInPandas over
cogrouped (filters, fps) — per-partition, never driver-side), stored
like any other snapshot table.  Probe contract:
``maybe_seen=False`` is definite (skip the exact anti-join),
``maybe_seen=True`` routes to the exact join — false positives can
never drop a row, so semantics equal the plain anti-join (A/B-tested
in tests/test_cuckoo.py).

Saturation: a cuckoo insert can fail when the table is near-full
(eviction loop exceeds MAX_KICKS).  The filter then sets
``saturated=1`` and the probe answers maybe_seen=True for every
candidate of that bucket — pure performance degradation to the exact
join, zero correctness impact.

Sizing: 16-bit fp × 4 slots at 95 % load ≈ 8.4 bits/item (vs ~9.6 for
a 1 % bloom) — at 10^10 URLs / 1024 buckets ≈ 10 MB/bucket, streamable
per partition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

CUCKOO_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("m", LongType()),       # number of table buckets (power of 2)
        StructField("slots", IntegerType()),
        StructField("n", LongType()),       # live entries
        StructField("saturated", IntegerType()),
        StructField("table", BinaryType()),  # uint16[m][slots]
    ]
)

DEFAULT_M = 1 << 16   # 64k buckets × 4 slots × 2B = 512 KiB per sidecar
DEFAULT_SLOTS = 4
MAX_KICKS = 500
_FP_MUL = np.uint64(0x5BD1E995)  # odd multiplier for fp→bucket-offset hash


def _fp_parts(fps: pd.Series, m: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i1, i2, fp16) arrays from sha1-hex fingerprints.  fp16 ∈
    1..65535 (0 = empty slot); i2 = i1 XOR h(fp16) keeps the partner
    relation recoverable from any slot, which is what makes eviction,
    deletion, and merging possible.  m must be a power of two so XOR
    stays in range."""
    h1 = np.array([int(f[:15], 16) for f in fps], dtype=np.uint64)
    raw = np.array([int(f[30:34], 16) for f in fps], dtype=np.uint64)
    fp16 = (raw % np.uint64(65535)) + np.uint64(1)
    i1 = h1 % np.uint64(m)
    i2 = (i1 ^ (fp16 * _FP_MUL)) % np.uint64(m)
    return i1.astype(np.int64), i2.astype(np.int64), fp16.astype(np.uint16)


def _alt_index(i: int, fp: np.uint16, m: int) -> int:
    return int((np.uint64(i) ^ (np.uint64(fp) * _FP_MUL)) % np.uint64(m))


def _insert_all(table: np.ndarray, i1s, i2s, fps, m: int, rng_seed: int) -> tuple[int, bool]:
    """Insert each fp; returns (inserted_count, saturated).  Eviction
    loop is the textbook algorithm; the RandomState is seeded per
    bucket so rebuilds are deterministic."""
    rng = np.random.RandomState(rng_seed)
    inserted, saturated = 0, False
    for i1, i2, fp in zip(i1s, i2s, fps):
        placed = False
        for idx in (int(i1), int(i2)):
            empty = np.flatnonzero(table[idx] == 0)
            if empty.size:
                table[idx, empty[0]] = fp
                placed = True
                break
        if placed:
            inserted += 1
            continue
        # evict: random walk up to MAX_KICKS
        idx, cur = int(i1), np.uint16(fp)
        for _ in range(MAX_KICKS):
            slot = int(rng.randint(0, table.shape[1]))
            cur, table[idx, slot] = table[idx, slot], cur
            idx = _alt_index(idx, cur, m)
            empty = np.flatnonzero(table[idx] == 0)
            if empty.size:
                table[idx, empty[0]] = cur
                cur = None
                break
        if cur is None:
            inserted += 1
        else:
            # put the homeless fp back where the walk started is not
            # possible (slots shuffled); mark saturated — probe degrades
            # to the exact join for this bucket, semantics preserved
            saturated = True
    return inserted, saturated


def build_cuckoo(
    fps: DataFrame, m: int = DEFAULT_M, slots: int = DEFAULT_SLOTS
) -> DataFrame:
    """(bucket, fingerprint) rows → one cuckoo-filter row per bucket
    (applyInPandas; the insert loop runs executor-side per group)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        table = np.zeros((m, slots), dtype=np.uint16)
        i1s, i2s, f16 = _fp_parts(pdf["fingerprint"], m)
        n, sat = _insert_all(table, i1s, i2s, f16, m, rng_seed=bucket + 1)
        return pd.DataFrame(
            [{"bucket": bucket, "m": m, "slots": slots, "n": n,
              "saturated": int(sat), "table": table.tobytes()}]
        )

    return fps.select("bucket", "fingerprint").groupBy("bucket").applyInPandas(
        build, schema=CUCKOO_SCHEMA
    )


def _mutate(filters: DataFrame, fps: DataFrame, op: str,
            m: int = DEFAULT_M, slots: int = DEFAULT_SLOTS) -> DataFrame:
    """Shared upsert/delete: cogroup (filters, fps) per bucket and
    rewrite the touched sidecars.  Buckets with no new fps pass through
    unchanged; fps for a bucket with no filter yet build a fresh one."""

    def apply(fl: pd.DataFrame, fp: pd.DataFrame) -> pd.DataFrame:
        if len(fp) == 0:
            return fl[[f.name for f in CUCKOO_SCHEMA.fields]]
        bucket = int(fp["bucket"].iloc[0])
        if len(fl):
            row = fl.iloc[0]
            mm, ss = int(row["m"]), int(row["slots"])
            table = np.frombuffer(row["table"], dtype=np.uint16).reshape(mm, ss).copy()
            n, sat = int(row["n"]), bool(row["saturated"])
        else:
            mm, ss = m, slots
            table = np.zeros((mm, ss), dtype=np.uint16)
            n, sat = 0, False
        i1s, i2s, f16 = _fp_parts(fp["fingerprint"], mm)
        if op == "insert":
            ins, sat2 = _insert_all(table, i1s, i2s, f16, mm, rng_seed=bucket + 1)
            n, sat = n + ins, sat or sat2
        else:  # delete: remove ONE matching fp from either candidate bucket
            for i1, i2, f in zip(i1s, i2s, f16):
                for idx in (int(i1), int(i2)):
                    hit = np.flatnonzero(table[idx] == f)
                    if hit.size:
                        table[idx, hit[0]] = 0
                        n -= 1
                        break
        return pd.DataFrame(
            [{"bucket": bucket, "m": mm, "slots": ss, "n": n,
              "saturated": int(sat), "table": table.tobytes()}]
        )

    return (
        filters.groupBy("bucket")
        .cogroup(fps.select("bucket", "fingerprint").groupBy("bucket"))
        .applyInPandas(apply, schema=CUCKOO_SCHEMA)
    )


def cuckoo_upsert(filters: DataFrame, fps: DataFrame, **kw) -> DataFrame:
    return _mutate(filters, fps, "insert", **kw)


def cuckoo_delete(filters: DataFrame, fps: DataFrame, **kw) -> DataFrame:
    """TTL-expiry path: drop aged fingerprints IN PLACE — the operation
    blooms cannot do (redis_dupefilter.py:27 EXPIRE analog)."""
    return _mutate(filters, fps, "delete", **kw)


def cuckoo_probe(candidates: DataFrame, filters: DataFrame, id_cols: list[str]) -> DataFrame:
    """Cogroup candidates with their bucket's filter → (id_cols...,
    bucket, fingerprint, maybe_seen).  No filter for a bucket → all new; saturated filter →
    all maybe_seen (degrade to exact join)."""
    out_schema = StructType(
        [candidates.schema[c] for c in id_cols]
        + [candidates.schema["bucket"], candidates.schema["fingerprint"],
           StructField("maybe_seen", BooleanType())]
    )

    def probe(cand: pd.DataFrame, fl: pd.DataFrame) -> pd.DataFrame:
        out = cand[id_cols + ["bucket", "fingerprint"]].copy()
        if len(cand) == 0:
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        if len(fl) == 0:
            out["maybe_seen"] = False
            return out
        row = fl.iloc[0]
        if int(row["saturated"]):
            out["maybe_seen"] = True
            return out
        mm, ss = int(row["m"]), int(row["slots"])
        table = np.frombuffer(row["table"], dtype=np.uint16).reshape(mm, ss)
        i1s, i2s, f16 = _fp_parts(cand["fingerprint"], mm)
        # vectorized probe: gather both candidate buckets, compare fp
        hit = (table[i1s] == f16[:, None]).any(axis=1) | (
            table[i2s] == f16[:, None]
        ).any(axis=1)
        out["maybe_seen"] = hit
        return out

    return (
        candidates.select(*id_cols, "bucket", "fingerprint")
        .groupBy("bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(probe, schema=out_schema)
    )


def cuckoo_filtered_anti_join(
    candidates: DataFrame, seen: DataFrame, filters: DataFrame, key: list[str]
) -> DataFrame:
    """Exact-semantics seen-probe with a cuckoo pre-filter — returns
    the same rows as ``candidates.join(seen, key, 'left_anti')``."""
    id_cols = [c for c in candidates.columns if c not in ("bucket", "fingerprint")]
    probed = cuckoo_probe(candidates, filters, id_cols)
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(seen.select(*key), key, "left_anti")
    return definitely_new.unionByName(confirmed_new)
