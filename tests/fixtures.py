"""Deterministic synthetic fixtures (FIXTURES.md F-1/F-2 shapes)."""

from __future__ import annotations

import numpy as np


def int_series_matrix(n: int = 48, t: int = 8, seed: int = 42,
                      vmax: int = 16, dup_every: int = 7) -> np.ndarray:
    """(n, t) int matrix: AR(1)-style walks in [0, vmax], with every
    ``dup_every``-th row duplicated from its predecessor so pattern
    ties and equal-envelope groups are exercised.

    The first two rows pin every column's range to exactly [0, vmax];
    with the default vmax=16 (a power of two) and t=8, every NCP/VL
    term is an exact dyadic rational, so metric sums are identical
    under any accumulation order — required for bit-exact parity tests
    against the reference's pure-Python summation."""
    rng = np.random.default_rng(seed)
    out = np.zeros((n, t), dtype=np.int64)
    out[1, :] = vmax
    for i in range(2, n):
        if dup_every and i % dup_every == 0:
            out[i] = out[i - 1]
            continue
        v = int(rng.integers(0, vmax + 1))
        for j in range(t):
            v = int(np.clip(v + rng.integers(-3, 4), 0, vmax))
            out[i, j] = v
    return out


def jobs_of(spark, call):
    """Spark jobs that ``call`` runs: job ids started between two 1-task
    marker jobs of one job group (AQE map-stage jobs count too)."""
    sc = spark.sparkContext
    sc.setJobGroup("job_count", "job_count")
    try:
        sc.parallelize([0], 1).count()
        before = set(sc.statusTracker().getJobIdsForGroup("job_count"))
        call()
        sc.parallelize([0], 1).count()
        after = set(sc.statusTracker().getJobIdsForGroup("job_count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(after - before) - 1  # minus the closing marker
