"""One SparkSession driven from several threads: an ANN index build and
a COW table's write path (both small-plan users) running concurrently
must never change the caller session's conf as another thread sees it,
and must produce exactly what a serial run produces."""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.operators.ann_index import AnnIndex
from onehouse_demos_spark.operators.similarity import load_emb

from tests.conftest import SF_DIR

_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _ann(spark, path):
    emb = load_emb(spark, SF_DIR)
    idx = AnnIndex.build(
        emb.filter(F.col("vec_id") >= 50), path, k_coarse=4, m=4, k_pq=4,
        iters=2,
    )
    idx.add_batch(emb.filter(F.col("vec_id") < 50))
    codes = sorted(
        (r.vec_id, r.cell, tuple(r.codes))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )
    layout = sorted(
        (os.path.relpath(d, path), sum(f.endswith(".parquet") for f in fs))
        for d, _, fs in os.walk(path)
    )
    return idx.centroids, idx.codebooks, codes, layout


def _cow(spark, path):
    t = LakehouseTable.create(
        spark, path,
        TableConfig(name="t", record_key=["id"], precombine="ver",
                    partition_by=["p"]),
    )
    schema = "id int, ver int, p string, v string"
    t.insert(spark.createDataFrame(
        [(i, 1, f"p{i % 3}", f"a{i}") for i in range(200)], schema))
    t.upsert(spark.createDataFrame(
        [(i, 2, f"p{i % 3}", f"b{i}") for i in range(0, 260, 7)], schema))
    snap = sorted(tuple(r) for r in t.snapshot().collect())
    live = sorted(
        (f.partition, f.rows, f.key_min, f.key_max, f.kind)
        for f in t.manifest.live_files()
    )
    return snap, live


def test_concurrent_ann_build_and_cow_writes_match_serial(spark, tmp_base):
    start = tuple(spark.conf.get(k) for k in _KEYS)
    seen: set = set()
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            seen.add(tuple(spark.conf.get(k) for k in _KEYS))

    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        serial_ann = _ann(spark, f"{tmp_base}/serial_idx")
        serial_cow = _cow(spark, f"{tmp_base}/serial_t")
        out: dict = {}

        def run_ann():
            try:
                out["ann"] = _ann(spark, f"{tmp_base}/conc_idx")
            except Exception as e:  # re-raised on the main thread
                out["err"] = e

        ann_thread = threading.Thread(target=run_ann)
        ann_thread.start()
        conc_cow = _cow(spark, f"{tmp_base}/conc_t")
        ann_thread.join(timeout=600)
        assert not ann_thread.is_alive()
    finally:
        stop.set()
        watcher.join(timeout=60)
    assert not watcher.is_alive()
    if "err" in out:
        raise out["err"]
    assert seen == {start}
    assert out["ann"] == serial_ann
    assert conc_cow == serial_cow
