"""Self-tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import json
import time

from perfbench import datagen
from perfbench.spans import Span, Tracer, covered, parse_event_log, self_times
from perfbench.stats import tail_percentile
from perfbench.workloads import Ctx, Loop


def _base(n=50):
    return [
        (k, 7, datagen.STATUSES[k % 3], 10.0, dt.datetime(2000, 1, 1), "5-LOW",
         datagen.BASE_TS_MS)
        for k in range(n)
    ]


def _batches(seed, n_batches=4, size=200):
    s = datagen.CdcStream(seed, _base())
    return [s.next_batch(size) for _ in range(n_batches)]


def test_cdc_stream_is_deterministic_per_seed_and_differs_across_seeds():
    assert _batches(3) == _batches(3)
    assert _batches(3) != _batches(4)


def test_tables_are_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = (datagen.make_tables(s, 0.0001) for s in (5, 5, 6))
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])


def test_cdc_stream_shape():
    batches = _batches(9, n_batches=5, size=400)
    ops = [e[2] for b in batches for e in b]
    share = {op: ops.count(op) / len(ops) for op in "ucd"}
    assert 0.6 < share["u"] < 0.8 and 0.1 < share["c"] < 0.3
    assert 0.05 < share["d"] < 0.15
    for b in batches:
        ts = [e[3] for e in b]
        assert len(set(ts)) == len(ts)  # unique per change
        assert ts != sorted(ts)  # arrives out of order
        assert datagen.keys_after_collapse(b) < len(b)  # keys repeat


def test_fold_equals_the_generators_own_state():
    base = _base()
    s = datagen.CdcStream(11, base)
    batches = [s.next_batch(300) for _ in range(6)]
    assert datagen.fold(base, batches) == s.rows


def test_fold_delete_then_reinsert_and_out_of_order_ts():
    def row(k, v, ts):
        return (k, 1, "O", v, dt.datetime(2000, 1, 1), "1-URGENT", ts)

    base = [row(1, 1.0, 100), row(2, 2.0, 100), row(3, 3.0, 100)]
    batch1 = [
        # arrival order is not ts order
        (row(1, 1.0, 100), row(1, 1.5, 130), "u", 130),
        (row(1, 1.0, 100), row(1, 1.2, 110), "u", 110),
        # key 2: deleted, then re-created, in one batch
        (None, row(2, 9.0, 125), "c", 125),
        (row(2, 2.0, 100), None, "d", 120),
        # key 3: updated, then deleted
        (row(3, 3.0, 100), None, "d", 140),
        (row(3, 3.0, 100), row(3, 3.3, 105), "u", 105),
    ]
    batch2 = [
        # key 4 is new; key 3 re-created in a later batch
        (None, row(4, 4.0, 200), "c", 200),
        (None, row(3, 3.9, 210), "c", 210),
    ]
    assert datagen.fold(base, [batch1]) == {
        1: row(1, 1.5, 130),
        2: row(2, 9.0, 125),
    }
    assert datagen.fold(base, [batch1, batch2]) == {
        1: row(1, 1.5, 130),
        2: row(2, 9.0, 125),
        3: row(3, 3.9, 210),
        4: row(4, 4.0, 200),
    }


def test_tail_percentile_rule():
    assert tail_percentile(list(range(20))) is None
    # 21 samples: rank 10 has ten above it -> the 52.3rd percentile
    assert tail_percentile(list(range(21))) == (52.3, 10)
    vals = list(range(100, 0, -1))  # order of arrival does not matter
    pct, v = tail_percentile(vals)
    assert (pct, v) == (90.0, 90)
    assert sum(1 for x in vals if x > v) == 10


def test_self_time_of_nested_spans():
    spans = [
        Span("a", 0.0, 10.0),  # root
        Span("b", 1.0, 4.0, parent=0),
        Span("c", 3.0, 6.0, parent=0),  # overlaps b: union 1..6
        Span("d", 2.0, 3.0, parent=1),  # grandchild: counts against b only
        Span("e", 8.0, 9.0, parent=0),
    ]
    assert covered([(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]) == 6.0
    assert self_times(spans) == [4.0, 2.0, 3.0, 1.0, 1.0]


def test_event_log_is_attributed_to_job_groups(tmp_path):
    def task(stage, run_ms, accs=()):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": n, "Update": v} for n, v in accs
            ]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": 2_000_000,
                "JVM GC Time": 1, "Input Metrics": {"Bytes Read": 10},
                "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                         "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "commit-0"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        task(0, 100, [("data sent to Python workers", 40),
                      ("time to run Python workers", 999)]),
        task(1, 200, [("data returned from Python workers", 2)]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # a job outside any group is not attributed
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [2], "Properties": {}},
        task(2, 300),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
    ]
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    (app / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    (app / "appstatus_app").write_text("")
    groups = parse_event_log(str(tmp_path))
    assert set(groups) == {"commit-0"}
    g = groups["commit-0"]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 2)
    assert g.job_intervals == [(1.0, 1.5)]
    assert round(g.executor_run_s, 9) == 0.3 and round(g.executor_cpu_s, 9) == 0.004
    assert (g.input_bytes, g.shuffle_read_bytes, g.shuffle_write_bytes) == (20, 6, 6)
    assert g.python_bytes == 42


def test_wrapped_methods_record_nested_spans_and_restore():
    class Store:
        LIMIT = 3

        def put(self, data):
            return self.check(len(data))

        def check(self, n):
            if n > self.LIMIT:
                raise ValueError(n)
            return n

        @staticmethod
        def version():
            return 1

        def _private(self):
            return 0

    originals = dict(vars(Store))
    tracer = Tracer()
    tracer.wrap_public(Store, "store")
    s = Store()
    assert s.put(b"ab") == 2  # disabled: passes through, no span
    assert tracer.spans == []
    tracer.enabled, tracer.op = True, "op-1"
    assert s.put(b"abc") == 3 and Store.version() == 1
    try:
        s.put(b"abcd")
    except ValueError:
        pass
    names = [(x.name, x.parent, x.op, x.error) for x in tracer.spans]
    assert names == [
        ("store:Store.put", None, "op-1", None),
        ("store:Store.check", 0, "op-1", None),
        ("store:Store.version", None, "op-1", None),
        ("store:Store.put", None, "op-1", "ValueError"),
        ("store:Store.check", 3, "op-1", "ValueError"),
    ]
    assert tracer.cost > 0
    tracer.restore()
    assert dict(vars(Store)) == originals


def test_loop_runs_the_minimum_and_stops_only_between_groups():
    ctx = Ctx(spark=None, work="", seed=0, seconds=0.0, traced=False,
              tracer=Tracer())
    ran = []
    assert Loop(ctx, "op", min_groups=2).run(ran.append)[0] == 2
    ctx.seconds = 0.05

    def step(i):
        ran.append(i)
        time.sleep(0.02)

    ran = []
    n, _ = Loop(ctx, "op", group=4).run(step)
    assert n == len(ran) and n % 4 == 0 and n >= 4
