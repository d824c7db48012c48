"""session.small_plan, the one small-plan execution scope:

- the yielded frame runs in a cached AQE-off child session, returns
  exactly what `.collect()` returns, never touches the caller session's
  conf and leaks no global temp view, also when the body raises;
- the carried conf keys follow the parent on every use;
- `one_partition` (the Lloyd shape) pins 1-partition shuffles only for
  tiny inputs, and training results are identical with and without the
  scope.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark.operators import similarity
from onehouse_demos_spark.session import small_plan

from tests.conftest import SF_DIR

_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _conf(spark) -> dict:
    return {k: spark.conf.get(k) for k in (_AQE, _PARTS, _NANOS)}


def _leftover_views(spark) -> list:
    return [
        v.name
        for v in spark.catalog.listTables("global_temp")
        if v.name.startswith("__oh_small_plan_")
    ]


def test_small_plan_matches_collect_and_leaves_conf_alone(spark):
    df = (
        spark.range(0, 1000)
        .select(
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    before = _conf(spark)
    with small_plan(df) as small:
        got = sorted(tuple(r) for r in small.collect())
        child = small.sparkSession
    want = sorted(tuple(r) for r in df.collect())
    assert got == want
    # the caller session's conf is untouched (an isolated child
    # session, never a global flip)
    assert _conf(spark) == before
    assert child is not spark
    assert child.conf.get(_AQE) == "false"
    assert child.conf.get(_PARTS) == spark.conf.get(_PARTS)
    # the child session is created once and reused
    with small_plan(df.limit(1)) as small:
        small.collect()
        assert small.sparkSession is child
    assert _leftover_views(spark) == []
    # a failing body still drops its view and leaves the conf alone
    with pytest.raises(RuntimeError):
        with small_plan(df) as small:
            small.collect()
            raise RuntimeError("boom")
    assert _conf(spark) == before
    assert _leftover_views(spark) == []


def test_small_plan_resyncs_carried_conf_on_every_use(spark):
    df = spark.range(0, 3, numPartitions=1)  # tiny: both children apply
    for one_partition in (False, True):
        with small_plan(df, one_partition=one_partition) as small:
            assert small.sparkSession is not spark
            small.collect()  # the child exists from here on
    old, old_parts = spark.conf.get(_NANOS), spark.conf.get(_PARTS)
    flipped = "false" if old == "true" else "true"
    try:
        spark.conf.set(_NANOS, flipped)
        spark.conf.set(_PARTS, "3")
        with small_plan(df) as small:
            assert small.sparkSession.conf.get(_NANOS) == flipped
            assert small.sparkSession.conf.get(_PARTS) == "3"
        with small_plan(df, one_partition=True) as small:
            assert small.sparkSession.conf.get(_NANOS) == flipped
            assert small.sparkSession.conf.get(_PARTS) == "1"
    finally:
        spark.conf.set(_NANOS, old)
        spark.conf.set(_PARTS, old_parts)
    with small_plan(df) as small:
        assert small.sparkSession.conf.get(_NANOS) == old
        assert small.sparkSession.conf.get(_PARTS) == old_parts


def test_one_partition_scope_is_guarded_and_leaves_conf_alone(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = emb.select("vec_id", F.col("embedding").alias("v"))
    tiny = (
        vecs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    )
    before = _conf(spark)
    with small_plan(vecs, one_partition=True) as small:
        if tiny:
            assert small.sparkSession.conf.get(_AQE) == "false"
            assert small.sparkSession.conf.get(_PARTS) == "1"
            # nested use stays in the enclosing child
            with small_plan(small, one_partition=True) as inner:
                assert inner is small
        else:
            assert small is vecs
    assert _conf(spark) == before
    with pytest.raises(RuntimeError):
        with small_plan(vecs, one_partition=True):
            raise RuntimeError("boom")
    assert _conf(spark) == before
    assert _leftover_views(spark) == []


def test_lloyd_training_identical_with_scope_on_and_off(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c_on = similarity.train_ivf_centroids(emb, k=4, iters=2)
    b_on = similarity.train_pq_codebooks(emb, m=4, k=4, iters=2)

    @contextmanager
    def passthrough(df, one_partition=False):
        yield df

    monkeypatch.setattr(similarity, "small_plan", passthrough)
    c_off = similarity.train_ivf_centroids(emb, k=4, iters=2)
    b_off = similarity.train_pq_codebooks(emb, m=4, k=4, iters=2)
    assert c_on == c_off
    assert b_on == b_off
