"""Crawl-coordinator benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 15 --trace 0

Run from the repository root.  One process at local[nproc] with a single
closed-loop client (each call waits for the previous one).  The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the lines before it name each metric with its unit.  With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both).  The command exits non-zero
when any output check fails.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark as the package perfbench from the checkout root,
# so that its module names cannot shadow the standard library's
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.realpath(p or ".") != HERE]
WORKLOADS = ("crawl_deep", "corpus_queries")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _prepare_env(run_dir: str) -> None:
    """Everything the run writes stays under ``run_dir``; Spark's Python
    workers import the package from the checkout root."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def _start_spark(run_dir: str):
    from scrapy_cluster_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _report(name: str, value: float, unit: str, n: int | None = None) -> None:
    extra = f"  (n={n})" if n is not None else ""
    print(f"metric {name} = {value:.6g} {unit}{extra}", flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    declared = _declared()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(run_dir)
    spark = None
    try:
        _prepare_env(run_dir)
        from scrapy_cluster_spark.store import SnapshotStore

        from perfbench.trace import Tracer

        spark, cores = _start_spark(run_dir)
        tracer = Tracer(spark, SnapshotStore, enabled=bool(args.trace))
        if args.workload == "crawl_deep":
            from perfbench.crawl import CrawlDeep

            wl = CrawlDeep(spark, os.path.join(run_dir, "store"), args.seed, tracer)
        else:
            from perfbench.corpus import CorpusQueries

            wl = CorpusQueries(
                spark, os.path.join(ROOT, "perfbench", "data", "sf0.01"),
                os.path.join(run_dir, "side"), tracer,
            )
        wl.setup()
        t_measure = time.time()
        setup_s = t_measure - T_START
        wl.run(t_measure + args.seconds)
        measured_s = time.time() - t_measure
        wl.check()
        e2e = wl.end_to_end()
        e2e["setup_s"] = setup_s
        report = wl.report()
        layers = wl.per_layer() if args.trace else {}
        wl.close()
        tracer.close()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    print(f"workload {args.workload} seed {args.seed} cores {cores} trace {args.trace} "
          f"measured {measured_s:.1f} s", flush=True)
    for line in wl.detail():
        print(line, flush=True)
    for p in wl.problems:
        print(f"CHECK FAILED: {p}", flush=True)
    correct = not wl.problems and wl.failed == 0

    # every end-to-end metric by name with its unit; in a traced run these
    # are the traced figures, and their difference from an untraced run
    # of the same seed is the tracing overhead
    tag = "traced " if args.trace else ""
    for name, unit in declared[0].items():
        _report(tag + name, e2e[name], unit)
    for name, (value, unit, n) in report.items():
        _report(tag + name, value, unit, n)

    if args.trace:
        unknown = set(layers) - set(declared[1])
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload does not exercise did no work: 0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in declared[1].items()}
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"end_to_end": e2e, "per_layer": layers, "spans": tracer.spans},
                      f, indent=1, default=str)
        for n, m in metrics.items():
            if n in layers:
                _report(n, m["value"], m["unit"])
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in declared[0].items()}
    print(json.dumps({"correct": correct, "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
