"""corpus_queries: a fixed subset of bench.BENCH_QUERIES over the sf0.01
testdata copy in perfbench/data, each materialized with
bench._materialize (an unprunable xxhash digest), in a fixed order, pass
after pass until the run's time is up.

functions/* and sources/tables.py do all the work here; plans/ and
store.py do none, so a crawl-round change should leave this workload
unchanged.  The inputs are the fixed, read-only testdata (generated with
seed 42); the workload seed changes nothing here.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

from perfbench import geomean

# query -> the layer (module) that does its work: one query per module, so
# that a pass fits the run; see README.md for what is left out.
QUERIES = {
    "schedule_round_analog": "operators",
    "doc_quality": "text",
    "minhash_neardup": "dedup",
    "substring_dedup": "spans",
    "unigram_xent": "lm",
    "bpe_pair_counts": "bpe",
    "embedding_clusters": "graph",
    "pq_ann_topk": "vectors",
    "stratified_sample": "corpus",
}
MODULES = list(dict.fromkeys(QUERIES.values()))
MODULE_FIELDS = {
    "jobs": "jobs",
    "shuffle_bytes": "shuffle_write_bytes",
    "spill_bytes": "spill_bytes",
    "executor_run_s": "executor_run_s",
}


def _value_hash():
    """scripts/check_oracles.py's order-insensitive value hash."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


class CorpusQueries:
    def __init__(self, spark, sf_dir: str, side_dir: str, tracer):
        import __spark_entry__ as entry

        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        # The side parquets a few queries write (and their oracles read)
        # go to this run's own directory: write-once files outlive the
        # process, so a shared path would let one run reuse another's.
        if not hasattr(entry, "_side_path"):
            raise RuntimeError("__spark_entry__._side_path is gone; update perfbench/corpus.py")
        entry._side_path = lambda kind, sf: os.path.join(
            side_dir, f"scs_{kind}_v1_{os.path.basename(sf.rstrip('/')) or 'sf'}"
        )
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.passes: list[dict] = []  # query -> (seconds, span)
        self.pass_s: list[float] = []
        self.problems: list[str] = []
        self.wrong: set[str] = set()  # queries whose output failed its check
        self.failed = 0
        self.attempted = 0

    def _reset_cache(self) -> None:
        import bench

        self.spark.catalog.clearCache()
        bench._assert_no_cached_storage(self.spark)

    # ---- set-up: the cold pass, which is also the output check ----------
    def setup(self) -> None:
        """Run every query once, collect it and hash it against its DuckDB
        oracle.  The first execution in a process is cold (codegen, worker
        spawn, side-parquet build), so it belongs in set-up."""
        import duckdb

        from scrapy_cluster_spark.sources.tables import TESTDATA_TABLES

        value_hash = _value_hash()
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for name in QUERIES:
            if name not in self.oracles:
                self.problems.append(f"{name}: no oracle")
                self.wrong.add(name)
                continue
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                rows = [r.asDict() for r in df.collect()]
                cols = df.columns
                want = con.execute(self.oracles[name]).fetchdf()
            except Exception as e:
                self.problems.append(f"{name}: check raised {type(e).__name__}: {e}")
                self.wrong.add(name)
                continue
            wrows, wcols = want.to_dict("records"), list(want.columns)
            if sorted(cols) != sorted(wcols) or len(rows) != len(wrows):
                self.problems.append(f"{name}: shape {len(rows)}x{sorted(cols)} != {len(wrows)}x{sorted(wcols)}")
                self.wrong.add(name)
            elif value_hash(rows, cols) != value_hash(wrows, wcols):
                self.problems.append(f"{name}: value hash differs from its oracle")
                self.wrong.add(name)
        con.close()
        self._reset_cache()

    # ---- measurement ---------------------------------------------------
    def run(self, deadline: float) -> None:
        """Whole passes in a fixed order until the deadline (at least one)."""
        import bench

        while not self.passes or time.time() < deadline:
            t0 = time.time()
            times = {}
            for name in QUERIES:
                self.attempted += 1
                try:
                    _, dt, span = self.tracer.call(
                        "query",
                        lambda n=name: bench._materialize(self.queries[n](self.spark, self.sf_dir)),
                        parent=f"pass-{len(self.passes)}",
                    )
                except Exception as e:
                    self.failed += 1
                    self.problems.append(f"{name} raised {type(e).__name__}: {e}")
                    continue
                times[name] = (dt, span)
            self.pass_s.append(time.time() - t0)
            self.passes.append(times)
            self._reset_cache()

    def check(self) -> None:
        """Outputs were checked in set-up: each timed execution of a query
        whose output failed there counts as failed."""
        self.failed += sum(n in p for p in self.passes for n in self.wrong)

    def close(self) -> None:
        pass

    # ---- metrics ---------------------------------------------------------
    def _query_medians(self) -> dict:
        return {
            n: statistics.median(p[n][0] for p in self.passes if n in p)
            for n in QUERIES
            if any(n in p for p in self.passes)
        }

    def detail(self) -> list[str]:
        return [
            f"pass {k}: " + ", ".join(f"{n} {t:.3f}" for n, (t, _) in p.items())
            for k, p in enumerate(self.passes)
        ]

    def end_to_end(self) -> dict:
        per_q = self._query_medians()
        total = statistics.median(self.pass_s)
        return {"work_per_s": len(per_q) / total, "request_s_geomean": geomean(per_q.values())}

    def report(self) -> dict:
        """Per-operation figures for the report lines: name -> (value, unit, samples)."""
        per_q = self._query_medians()
        return {
            "queries_total_s": (statistics.median(self.pass_s), "s", len(self.pass_s)),
            "queries_geomean_s": (geomean(per_q.values()), "s", len(per_q)),
        }

    def per_layer(self) -> dict:
        out = {f"query.{n}_s": v for n, v in self._query_medians().items()}
        for mod in MODULES:
            names = [n for n, m in QUERIES.items() if m == mod]
            for metric, key in MODULE_FIELDS.items():
                per_pass = [sum(p[n][1][key] for n in names if n in p) for p in self.passes]
                out[f"functions.{mod}.{metric}"] = statistics.median(per_pass)
        return out
