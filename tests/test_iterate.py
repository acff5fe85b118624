"""The shared round loop (operators/iterate.py) and the early stop it
gives the peels."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mine_database_spark.operators.iterate import iterate


def _shrink(history):
    """0..n-1 -> 0..n-2: one row fewer per round, empty after n rounds."""
    prev = history[-1]
    return prev.where(F.col("id") > 0).select((F.col("id") - 1).alias("id"))


def test_iterate_cap_fixpoint_and_fixed_rounds(spark):
    first = spark.range(5)
    empty = lambda prev, new: new.isEmpty()

    history, converged = iterate(first, _shrink, max_rounds=2, done=empty)
    assert not converged  # the cap ran out before done() held
    assert len(history) == 3 and history[0] is first
    assert sorted(r["id"] for r in history[-1].collect()) == [0, 1, 2]

    history, converged = iterate(first, _shrink, max_rounds=None, done=empty)
    assert converged and len(history) == 6 and history[-1].count() == 0

    history, converged = iterate(first, _shrink, max_rounds=3)
    assert not converged and len(history) == 4

    # a tuple state is checkpointed member by member
    history, _ = iterate((first, first), lambda h: tuple(_shrink([d]) for d in h[-1]), max_rounds=1)
    assert isinstance(history[-1], tuple) and [d.count() for d in history[-1]] == [4, 4]

    with pytest.raises(ValueError):
        iterate(first, _shrink, max_rounds=None)


def _jobs(spark, group, fn):
    """Run fn() under a job group; return (result, number of Spark jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_k_core_stops_at_first_unchanged_round(spark):
    """K4 {1,2,3,4} + chain 4-5-6-7 reaches its 3-core in a few rounds: a
    50-round cap must return the same rows as 6 and run no more jobs."""
    from mine_database_spark.operators.graph import k_core

    rows = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)]
    pe = spark.createDataFrame(rows, "src long, dst long")
    r6, jobs6 = _jobs(spark, "k_core_iters6", lambda: sorted(map(tuple, k_core(pe, k=3, iters=6).collect())))
    r50, jobs50 = _jobs(spark, "k_core_iters50", lambda: sorted(map(tuple, k_core(pe, k=3, iters=50).collect())))
    assert r50 == r6 and all(r[2] for r in r6)
    assert 0 < jobs50 <= jobs6
