"""Micro-timings of the numpy kernels in ``ddsketch_spark.core`` on seeded
arrays, apart from any Spark run. Each rate is the median of five repeats.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPEATS = 5


def _rate(fn, units: float) -> float:
    rates = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        rates.append(units / (time.perf_counter() - t0))
    return statistics.median(rates)


def kernel_rates(seed: int) -> dict[str, float]:
    from ddsketch_spark.core.ddsketch import DDSketch, from_bytes
    from ddsketch_spark.core.hll import HLL
    from ddsketch_spark.core.kll import KLL

    rng = np.random.default_rng(seed)
    vals = rng.lognormal(5.0, 1.0, 200_000)
    parts = [DDSketch(0.01, 2048).update(c) for c in np.array_split(vals, 200)]
    full = DDSketch(0.01, 2048).update(vals)
    blob = full.to_bytes()
    hashes = rng.integers(0, 1 << 60, size=(100, 2000), dtype=np.int64)
    hlls = [HLL(12).update(h) for h in hashes]

    def dd_merge():
        acc = DDSketch(0.01, 2048)
        for p in parts:
            acc.merge(p)

    def dd_serde():
        for _ in range(50):
            from_bytes(full.to_bytes())

    def dd_quantile():
        for _ in range(200):
            full.quantile([0.5, 0.9, 0.99])

    def hll_merge():
        acc = HLL(12)
        for h in hlls:
            acc.merge(h)

    if from_bytes(blob) != full:
        raise RuntimeError("DDSketch serde round trip changed the sketch")
    return {
        "core.ddsketch.update_mvals_per_s":
            _rate(lambda: DDSketch(0.01, 2048).update(vals), len(vals) / 1e6),
        "core.ddsketch.merge_per_s": _rate(dd_merge, len(parts)),
        "core.ddsketch.serde_per_s": _rate(dd_serde, 50),
        "core.ddsketch.quantile_per_s": _rate(dd_quantile, 200),
        "core.kll.update_mvals_per_s":
            _rate(lambda: KLL(200).update(vals), len(vals) / 1e6),
        "core.hll.merge_per_s": _rate(hll_merge, len(hlls)),
    }
