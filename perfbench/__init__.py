"""Benchmark of the crawl coordinator; run ``python3 perfbench/run.py``."""

import math
import statistics


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))
