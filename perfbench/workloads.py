"""The three workloads. Each is a closed loop with one client: the next
operation starts only when the previous one has returned.

- ``cdc_cow``: Debezium batches applied with ``apply_cdc_batch`` to a
  copy-on-write table built by ``bulk_insert``; ``run_clean`` every few
  batches. The COW write path and Spark job submission do the work.
- ``mor_fresh``: the same generator feeding a merge-on-read table created
  through ``Engine``; after each batch the Delta, Iceberg and Hudi
  personalities are synced and one aggregate is read through each view;
  ``run_compaction`` every few batches. Log appends, merge-on-read
  reads, compaction and the exporters do the work.
- ``analytic_suite``: the headline analytic queries over generated
  parquet. Operators and Spark execution do the work; the table layer
  is idle.

Each ``run_*`` returns a ``Result``; correctness is checked after the
timed loop and never inside it.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen, spans
from perfbench.stats import median, timing

#: Scale of the ``orders`` table the CDC workloads start from.
CDC_SF = 0.01
#: Envelopes per CDC batch.
CDC_BATCH = 1000
#: ``run_clean`` after every this many COW batches.
CLEAN_EVERY = 3
#: ``run_compaction`` and then ``run_clean`` after every this many MOR
#: batches: one compaction cycle.
COMPACT_EVERY = 2
#: Scale of the analytic suite's tables.
SUITE_SF = 0.01

#: The analytic suite: one headline query per operator class (scan and
#: aggregate, filter, star join, fact-fact join with top-N, window
#: top-N, anti-join, JSON decode, sessionization, MinHash LSH,
#: brute-force kNN, BM25 text scoring, an Arrow ``mapInPandas`` UDF).
#: The other headline queries repeat these shapes, and running them
#: would double the untimed warm-up pass, which a run cannot afford.
#: ``ann_index_search`` is left out because its index build adds ~11 s of
#: JIT-cold Spark jobs to every run's set-up.
SUITE = [
    "pricing_summary", "filter_project", "join_dim_rollup",
    "top_revenue_orders", "top_orders_per_customer",
    "customers_without_orders", "events_json_extract", "sessionize_events",
    "minhash_lsh_pairs", "knn_bruteforce", "bm25_topk",
    "multimodal_features",
]

READ_SQL = (
    "SELECT o_orderstatus, count(*) AS n, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total, "
    "max(ts_ms) AS max_ts FROM {view} GROUP BY o_orderstatus "
    "ORDER BY o_orderstatus"
)

ORDERS_COLS = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING, "
    "ts_ms BIGINT"
)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    traced: bool
    tracer: spans.Tracer
    #: per traced op: (op id, kind, Spark jobs)
    ops: list = field(default_factory=list)
    t0: float = field(default_factory=time.perf_counter)

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since start."""
        print(f"# [{time.perf_counter() - self.t0:6.1f}s] {msg}",
              file=sys.stderr, flush=True)


@dataclass
class Result:
    setup_s: float
    #: seconds a client waits for one unit of its work (see report.py)
    latency_s: float
    #: units of work done in the timed loop, the seconds spent in engine
    #: calls for them, and the loop's wall time
    work_units: int
    engine_s: float
    loop_s: float
    attempted: int
    failed: int
    mismatches: list[str]
    #: the workload's own metrics, for the report line
    report: dict
    #: per-layer inputs that only the workload knows
    layer: dict
    #: in a traced run: ops traced, the wall seconds of their engine
    #: calls, and the seconds the tracer spent on its own bookkeeping
    #: (spans, job groups, ``statusTracker()`` reads)
    traced_ops: int = 0
    traced_s: float = 0.0
    trace_cost_s: float = 0.0


# ------------------------------------------------------------- helpers

def _schemas():
    from pyspark.sql import types as T

    row = T.StructType.fromDDL(ORDERS_COLS)
    env = T.StructType(
        [
            T.StructField("before", row),
            T.StructField("after", row),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    return row, env


def _base_orders(seed: int) -> tuple[pa.Table, list[tuple]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    n = int(1_500_000 * CDC_SF)
    tbl = datagen.orders_table(rng, n, int(150_000 * CDC_SF))
    tbl = tbl.append_column(
        "ts_ms", pa.array([datagen.BASE_TS_MS] * n, pa.int64())
    )
    rows = [tuple(r.values()) for r in tbl.to_pylist()]
    return tbl, rows


def _base_df(spark, tbl: pa.Table):
    row, _ = _schemas()
    return spark.createDataFrame(tbl.to_pandas(), schema=row)


def _parquet_bytes(rows: list[tuple], path: str) -> int:
    names = [c.split()[0] for c in ORDERS_COLS.split(", ")]
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    tbl = pa.table(
        {n: list(c) for n, c in zip(names, cols)},
        schema=datagen.ORDERS_SCHEMA.append(pa.field("ts_ms", pa.int64())),
    )
    pq.write_table(tbl, path)
    size = os.path.getsize(path)
    os.remove(path)
    return size


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


def _new_instants(table, after: str | None) -> list:
    return [i for i in table.timeline.instants() if after is None or i.instant > after]


def _written_bytes(table, instants) -> tuple[int, int]:
    total = files = 0
    for inst in instants:
        for fm in inst.adds:
            try:
                total += os.path.getsize(os.path.join(table.base_path, fm.path))
                files += 1
            except OSError:
                pass
    return total, files


def _compare_state(got_rows, expected: dict[int, tuple], label: str) -> list[str]:
    got = {}
    dup = 0
    for r in got_rows:
        t = tuple(r)
        if t[0] in got:
            dup += 1
        got[t[0]] = t
    out = []
    if dup:
        out.append(f"{label}: {dup} duplicate keys")
    if got != expected:
        missing = len(expected.keys() - got.keys())
        extra = len(got.keys() - expected.keys())
        diff = sum(1 for k in expected.keys() & got.keys() if got[k] != expected[k])
        out.append(
            f"{label}: {missing} keys missing, {extra} extra, {diff} differ "
            f"(expected {len(expected)} rows, got {len(got)})"
        )
    return out


@dataclass
class IngestStats:
    """Write bookkeeping of a CDC loop, done outside the timed calls."""

    envelopes: int = 0
    collapsed: int = 0  # rows left after each batch's per-key collapse
    after_bytes: int = 0  # the batches' after-images as plain parquet
    written: int = 0  # data-file bytes the commits added
    files_added: int = 0
    removes: int = 0  # files replaced by write commits
    rows_added: int = 0  # rows in files added by write commits
    compaction_bytes: int = 0

    def add(self, table, new: list, batch: list[tuple], work: str) -> None:
        """Account one applied batch and the instants it committed."""
        writes = [x for x in new if x.action in ("commit", "deltacommit")]
        b, f = _written_bytes(table, new)
        self.written += b
        self.files_added += f
        self.removes += sum(len(x.removes) for x in writes)
        self.rows_added += sum(fm.rows for x in writes for fm in x.adds)
        self.compaction_bytes += _written_bytes(
            table, [x for x in new if x.action == "replacecommit"]
        )[0]
        self.envelopes += len(batch)
        self.collapsed += datagen.keys_after_collapse(batch)
        self.after_bytes += _parquet_bytes(
            [a for _, a, op, _ in batch if op != "d"],
            os.path.join(work, "after.parquet"),
        )

    def summary(self, table, expected: dict, commits: int, engine_s: float,
                work: str) -> tuple[dict, dict]:
        """(report metrics, per-layer metrics) at the end of the loop."""
        table_bytes = _dir_bytes(table.base_path)
        snap_bytes = _parquet_bytes(
            list(expected.values()), os.path.join(work, "snap.parquet")
        )
        n = max(1, commits)
        changes = max(1, self.envelopes)
        report = {
            "ingest_changes_per_s": self.envelopes / max(engine_s, 1e-9),
            "write_amp": self.written / max(1, self.after_bytes),
            "space_amp": table_bytes / snap_bytes,
        }
        layer = {
            "sources.cdc.collapse_ratio": self.collapsed / changes,
            "tables.table.files_rewritten_per_commit": self.removes / n,
            "tables.table.rows_rewritten_per_change": self.rows_added / changes,
            "tables.maintenance.compaction_bytes": self.compaction_bytes / n,
            "storage.bytes_written": self.written / n,
            "storage.files_added": self.files_added / n,
            "storage.live_files": len(table.manifest.live_files()),
            "storage.table_bytes": table_bytes,
        }
        return report, layer


class Loop:
    """Closed-loop driver: ``step(i)`` runs op ``i`` once the previous op
    has returned, until ``seconds`` have passed and at least
    ``min_groups`` groups of ops ran. Ops form groups of ``group`` (a
    compaction cycle, a suite pass), and the loop stops only between
    groups. The minimum fixes the sample count on a box where one op
    takes about as long as ``seconds``.

    A step puts its engine calls, and nothing else, inside
    ``with loop.op(i):``. In a traced run that block is where the tracer
    records spans and is the wall time ``traced_s`` counts; it runs under
    its own Spark job group, whose job count is read from
    ``statusTracker()`` afterwards. The step's own bookkeeping stays
    outside it, untraced."""

    def __init__(self, ctx: Ctx, kind: str, group: int = 1, min_groups: int = 1):
        self.ctx = ctx
        self.kind = kind
        self.group = group
        self.min_ops = group * min_groups
        self.traced_ops = 0
        self.traced_s = 0.0

    def _begin(self, gid: str) -> None:
        ctx = self.ctx
        t = time.perf_counter()
        sc = ctx.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", gid)
        sc.setLocalProperty("spark.job.description", gid)
        ctx.tracer.op = gid
        ctx.tracer.enabled = True
        ctx.tracer.cost += time.perf_counter() - t

    def _end(self, gid: str) -> None:
        ctx = self.ctx
        t = time.perf_counter()
        ctx.tracer.enabled = False
        sc = ctx.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(gid)
        ctx.ops.append((gid, self.kind, len(jobs)))
        self.traced_ops += 1
        ctx.tracer.cost += time.perf_counter() - t

    @contextlib.contextmanager
    def op(self, i: int):
        """The engine calls of op ``i``; traced in a traced run."""
        if not self.ctx.traced:
            yield
            return
        gid = f"{self.kind}-{i}"
        self._begin(gid)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.traced_s += time.perf_counter() - t
            self._end(gid)

    def run(self, step) -> tuple[int, float]:
        """Returns (ops run, loop wall seconds)."""
        t0 = time.perf_counter()
        deadline = t0 + self.ctx.seconds
        i = 0
        while i < self.min_ops or time.perf_counter() < deadline or i % self.group:
            step(i)
            i += 1
        return i, time.perf_counter() - t0


def _envelope_df(spark, batch):
    _, env = _schemas()
    return spark.createDataFrame(batch, schema=env)


# ------------------------------------------------------------- cdc_cow

def run_cdc_cow(ctx: Ctx) -> Result:
    from onehouse_demos_spark.sources import cdc
    from onehouse_demos_spark.tables import maintenance
    from onehouse_demos_spark.tables.table import LakehouseTable, TableConfig

    spark = ctx.spark
    base_tbl, base_rows = _base_orders(ctx.seed)
    t0 = time.perf_counter()
    table = LakehouseTable.create(
        spark,
        os.path.join(ctx.work, "orders_cow"),
        TableConfig(
            name="orders_cow",
            record_key=["o_orderkey"],
            precombine="ts_ms",
            partition_by=["o_orderstatus"],
        ),
    )
    table.bulk_insert(_base_df(spark, base_tbl))
    stream = datagen.CdcStream(ctx.seed + 1, base_rows)
    batches: list[list[tuple]] = []
    # One untimed batch lets JIT and first-use costs land in set-up; the
    # first timed commit still runs ~15% slower than the second.
    warm = stream.next_batch(CDC_BATCH)
    batches.append(warm)
    cdc.apply_cdc_batch(table, _envelope_df(spark, warm))
    setup_s = time.perf_counter() - t0

    commit_s: list[float] = []
    stats = IngestStats()
    state = {"failed": 0, "engine_s": 0.0}
    last = table.timeline.latest_instant()

    loop = Loop(ctx, "commit", min_groups=2)

    def step(i):
        nonlocal last
        batch = stream.next_batch(CDC_BATCH)
        df = _envelope_df(spark, batch)
        t = time.perf_counter()
        try:
            with loop.op(i):
                cdc.apply_cdc_batch(table, df)
                commit_s.append(time.perf_counter() - t)
                batches.append(batch)
                if (i + 1) % CLEAN_EVERY == 0:
                    maintenance.run_clean(table)
        except Exception as exc:  # counted, reported, never retried
            state["failed"] += 1
            ctx.log(f"cdc_cow: batch {i} failed: {exc!r}")
            return
        finally:
            state["engine_s"] += time.perf_counter() - t
        stats.add(table, _new_instants(table, last), batch, ctx.work)
        last = table.timeline.latest_instant()

    ctx.log("cdc_cow: set up")
    n_ops, loop_s = loop.run(step)
    ctx.log(f"cdc_cow: {n_ops} batches timed")

    expected = datagen.fold(base_rows, batches)
    got = table.snapshot().collect()
    mismatches = _compare_state(got, expected, "cdc_cow final snapshot")
    report, layer = stats.summary(
        table, expected, len(commit_s), state["engine_s"], ctx.work
    )
    report["commit_s"] = timing(commit_s)
    return Result(
        setup_s=setup_s,
        latency_s=median(commit_s),
        work_units=stats.envelopes,
        engine_s=state["engine_s"],
        loop_s=loop_s,
        attempted=n_ops,
        failed=state["failed"],
        mismatches=mismatches,
        report=report,
        layer=layer,
        traced_ops=loop.traced_ops,
        traced_s=loop.traced_s,
        trace_cost_s=ctx.tracer.cost,
    )


# ----------------------------------------------------------- mor_fresh

def run_mor_fresh(ctx: Ctx) -> Result:
    from onehouse_demos_spark.sources import cdc
    from onehouse_demos_spark.sql.engine import Engine
    from onehouse_demos_spark.tables import (
        delta_export,
        hudi_export,
        iceberg_export,
        maintenance,
    )

    spark = ctx.spark
    base_tbl, base_rows = _base_orders(ctx.seed)
    name = "orders_mor"

    def sync_all(table):
        delta_export.sync_delta_log(table)
        iceberg_export.sync_iceberg_metadata(table)
        hudi_export.sync_hudi_metadata(table, mor_rt=True)

    t0 = time.perf_counter()
    eng = Engine(spark, os.path.join(ctx.work, "warehouse"))
    eng.sql(
        f"CREATE TABLE {name} ({ORDERS_COLS}) USING lakehouse "
        "PARTITIONED BY (o_orderstatus) TBLPROPERTIES "
        "(primaryKey=o_orderkey, preCombineField=ts_ms, type=mor)"
    )
    table = eng.table(name)
    table.insert(_base_df(spark, base_tbl))
    sync_all(table)
    for fmt in ("delta", "iceberg"):
        eng.sql(
            f"CREATE TABLE {name}_{fmt} USING {fmt.upper()} "
            f"LOCATION '{table.base_path}'"
        )

    views = [f"{name}_rt", f"{name}_ro", f"{name}_delta", f"{name}_iceberg"]
    stream = datagen.CdcStream(ctx.seed + 1, base_rows)
    batches: list[list[tuple]] = []
    commit_s: list[float] = []
    fresh_s: list[float] = []
    read_s: list[float] = []
    rounds: list[dict] = []
    stats = IngestStats()
    state = {"failed": 0, "engine_s": 0.0}

    loop = Loop(ctx, "round", group=COMPACT_EVERY)

    def one_round(i, op):
        """One batch, its inline services, the syncs and the reads; the
        engine calls run inside ``op``. Returns the round's timings and
        results."""
        batch = stream.next_batch(CDC_BATCH)
        df = _envelope_df(spark, batch)
        before = table.timeline.latest_instant()
        reads = []
        results = {}
        with op:
            t = time.perf_counter()
            cdc.apply_cdc_batch(table, df)
            t_commit = time.perf_counter()
            batches.append(batch)
            if (i + 1) % COMPACT_EVERY == 0:
                maintenance.run_compaction(table)
                maintenance.run_clean(table)
            sync_all(table)
            t_fresh = time.perf_counter()
            for v in views:
                t_r = time.perf_counter()
                df_v = eng.sql(READ_SQL.format(view=v))
                results[v] = ctx.tracer.span("sql.engine.exec:collect", df_v.collect)
                reads.append(time.perf_counter() - t_r)
            t_end = time.perf_counter()
        return before, batch, t_commit - t, t_fresh - t, t_end - t, reads, results

    # One untimed round, which compacts, moves first-use costs into
    # set-up; the timed loop then runs whole compaction cycles.
    one_round(-1, contextlib.nullcontext())
    setup_s = time.perf_counter() - t0

    def step(i):
        try:
            before, batch, commit, fresh, total, reads, results = one_round(
                i, loop.op(i)
            )
        except Exception as exc:
            state["failed"] += 1
            ctx.log(f"mor_fresh: round {i} failed: {exc!r}")
            return
        state["engine_s"] += total
        commit_s.append(commit)
        fresh_s.append(fresh)
        read_s.extend(reads)
        rounds.append({v: [tuple(r) for r in rows] for v, rows in results.items()})
        stats.add(table, _new_instants(table, before), batch, ctx.work)

    ctx.log("mor_fresh: set up")
    n_ops, loop_s = loop.run(step)
    ctx.log(f"mor_fresh: {n_ops} rounds timed")

    mismatches = []
    for k, res in enumerate(rounds):
        rt = res[views[0]]
        for v in views[2:]:
            if res[v] != rt:
                mismatches.append(f"mor_fresh round {k}: {v} != {views[0]}")
    expected = datagen.fold(base_rows, batches)
    mismatches += _compare_state(
        table.snapshot().collect(), expected, "mor_fresh final snapshot"
    )
    report, layer = stats.summary(
        table, expected, len(commit_s), state["engine_s"], ctx.work
    )
    report.update(
        commit_s=timing(commit_s), freshness_s=timing(fresh_s), read_s=timing(read_s)
    )
    return Result(
        setup_s=setup_s,
        latency_s=median(fresh_s),
        work_units=stats.envelopes,
        engine_s=state["engine_s"],
        loop_s=loop_s,
        attempted=n_ops,
        failed=state["failed"],
        mismatches=mismatches,
        report=report,
        layer=layer,
        traced_ops=loop.traced_ops,
        traced_s=loop.traced_s,
        trace_cost_s=ctx.tracer.cost,
    )


# ------------------------------------------------------ analytic_suite

def run_analytic_suite(ctx: Ctx) -> Result:
    import onehouse_demos_spark.operators as ops

    spark = ctx.spark
    data = os.path.join(ctx.work, "data")
    t0 = time.perf_counter()
    datagen.write_tables(data, ctx.seed, SUITE_SF)
    queries = dict(ops.all_queries())
    queries.update(ops.extra_queries())
    queries = {q: queries[q] for q in SUITE}
    if ctx.traced:
        spans.install_queries(ctx.tracer, queries)
    rng = random.Random(ctx.seed)
    order = list(SUITE)
    rng.shuffle(order)

    # Untimed pass: JIT compilation and Python worker start-up.
    for q in order:
        queries[q](spark, data).collect()
    setup_s = time.perf_counter() - t0

    per_q: dict[str, list[float]] = {q: [] for q in SUITE}
    last_rows: dict[str, tuple] = {}
    state = {"failed": 0, "engine_s": 0.0}
    passes: list[float] = []

    loop = Loop(ctx, "query", group=len(SUITE))

    def step(i):
        # One op is one query; each pass runs the suite in a fresh
        # seed-shuffled order.
        if i % len(order) == 0:
            rng.shuffle(order)
            passes.append(0.0)
        q = order[i % len(order)]
        t = time.perf_counter()
        try:
            with loop.op(i):
                df = queries[q](spark, data)
                rows = ctx.tracer.span(f"operators.exec:{q}", df.collect)
        except Exception as exc:
            state["failed"] += 1
            ctx.log(f"analytic_suite: {q} failed: {exc!r}")
            return
        per_q[q].append(time.perf_counter() - t)
        state["engine_s"] += per_q[q][-1]
        passes[-1] += per_q[q][-1]
        last_rows[q] = (df.columns, [tuple(r) for r in rows])

    ctx.log("analytic_suite: set up")
    n_ops, loop_s = loop.run(step)
    ctx.log(f"analytic_suite: {n_ops} queries timed")

    mismatches = _oracle_check(data, last_rows)
    op_s = [d for ds in per_q.values() for d in ds]
    report = {
        "suite_s": timing(passes),
        "query_s": timing(op_s),
        "query_p50_s": {q: median(ds) for q, ds in per_q.items() if ds},
    }
    return Result(
        setup_s=setup_s,
        latency_s=median(passes),
        work_units=len(op_s),
        engine_s=state["engine_s"],
        loop_s=loop_s,
        attempted=n_ops,
        failed=state["failed"],
        mismatches=mismatches,
        report=report,
        layer={},
        traced_ops=loop.traced_ops,
        traced_s=loop.traced_s,
        trace_cost_s=ctx.tracer.cost,
    )


def _oracle_check(data: str, last_rows: dict) -> list[str]:
    """Each query's last result against its DuckDB oracle, compared with
    the repository's own order-insensitive normalisation."""
    import duckdb

    import onehouse_demos_spark.operators as ops
    from oracle_check import TABLES, normalize

    oracles = dict(ops.all_oracles())
    oracles.update(ops.extra_oracles())
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, t)}.parquet')"
            )
        out = []
        for q in SUITE:
            if q not in last_rows:
                out.append(f"{q}: never completed")
                continue
            cols, rows = last_rows[q]
            cur = con.execute(oracles[q])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if sorted(cols) != sorted(ocols):
                out.append(f"{q}: columns {sorted(cols)} != {sorted(ocols)}")
            elif normalize(rows, cols) != normalize(orows, ocols):
                out.append(f"{q}: {len(rows)} rows != oracle {len(orows)} rows or values")
        return out
    finally:
        con.close()


WORKLOADS = {
    "cdc_cow": run_cdc_cow,
    "mor_fresh": run_mor_fresh,
    "analytic_suite": run_analytic_suite,
}
