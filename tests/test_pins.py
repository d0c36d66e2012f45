"""pins.free / release_pins must ACTUALLY free localCheckpoint blocks.

``DataFrame.unpersist()`` is a no-op for checkpointed frames (it only
drops CacheManager entries, never the checkpoint RDD), so the old
release path looked like a fix for the ADVICE-r4 accumulation while
freeing nothing. These tests observe ``sc.getPersistentRDDs`` directly:
counts are RELATIVE (the shared session may carry pins from other
tests/operators), and each test cleans up what it creates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark import pins


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_pins_frees_checkpoint_blocks(spark):
    base = _n_persistent(spark)
    a = pins.pin(spark.range(100).select(F.col("id")))
    b = pins.pin(spark.range(50).select((F.col("id") * 2).alias("id")))
    assert a.count() == 100 and b.count() == 50
    assert _n_persistent(spark) >= base + 2
    released = pins.release_pins()
    assert released >= 2
    assert _n_persistent(spark) <= base


def test_plain_unpersist_is_noop_but_free_works(spark):
    # documents WHY pins.free exists: the DataFrame API cannot do this
    base = _n_persistent(spark)
    df = spark.range(10).localCheckpoint(eager=True)
    assert _n_persistent(spark) == base + 1
    df.unpersist(True)
    assert _n_persistent(spark) == base + 1  # the no-op
    assert pins.free(df) is True
    assert _n_persistent(spark) == base


def test_free_targets_one_frame_only(spark):
    base = _n_persistent(spark)
    dead = spark.range(10).localCheckpoint(eager=True)
    live = spark.range(7).localCheckpoint(eager=True)
    pins.free(dead)
    assert _n_persistent(spark) == base + 1
    assert live.count() == 7  # untouched and still usable
    pins.free(live)
    assert _n_persistent(spark) == base


def test_connected_components_nonconvergence_frees_pins(spark):
    from opentelemetry_collector_spark.operators.dedup import (
        connected_components,
    )
    import pytest

    base = _n_persistent(spark)
    # a 6-node path graph has diameter 5 — max_iters=1 cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=1)
    # the error path freed the edge pin and every round's labels
    assert _n_persistent(spark) == base
    # the success path leaves exactly the registered RESULT pinned
    labels = connected_components(pairs, max_iters=10)
    assert labels.select(F.count_distinct("label")).collect()[0][0] == 1
    assert _n_persistent(spark) > base
    pins.release_pins()
    assert _n_persistent(spark) <= base


def test_pagerank_checkpoint_every_stays_bounded(spark):
    from opentelemetry_collector_spark.operators.urls import pagerank

    base = _n_persistent(spark)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 2)], "src long, dst long"
    )
    ranks = pagerank(edges, n_iter=9, checkpoint_every=2)
    total = ranks.agg(F.round(F.sum("rank"), 2)).collect()[0][0]
    assert abs(total - 1.0) < 0.05
    # 4 checkpoint intervals ran; superseded ones were freed as the loop
    # advanced, so at most the final (registered) checkpoint remains
    assert _n_persistent(spark) <= base + 1
    pins.release_pins()
    assert _n_persistent(spark) <= base


def test_free_reports_checkpoint_vs_cache(spark):
    # a localCheckpoint frame is freed at its RDD; a cache()d frame falls
    # through to unpersist, which drops its cache entry, and reports False
    base = _n_persistent(spark)
    pinned = spark.range(12).localCheckpoint(eager=True)
    rdd_id = pinned._jdf.queryExecution().analyzed().rdd().id()
    assert spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id)
    assert pins.free(pinned) is True
    assert not spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id)
    assert _n_persistent(spark) == base

    cached = spark.range(9).select((F.col("id") + 1).alias("id")).cache()
    assert cached.count() == 9
    assert _n_persistent(spark) == base + 1
    assert pins.free(cached) is False
    assert not cached.is_cached
    assert _n_persistent(spark) == base
