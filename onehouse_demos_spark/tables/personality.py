"""The format-independent layer under the Delta, Iceberg and Hudi
personalities (xTable's shape: one engine snapshot, one thin target per
format that only serialises it).

Every decision that does not depend on the target format is made here,
once:

- **What to export.** The guards that refuse a personality which would
  resurrect tombstones, the declared partition columns, and the
  group-pruned base-vs-realtime delta of a MOR table (``rt_delta`` for
  the MOR-style Iceberg lane, ``rt_group_rewrite`` for Delta's COW
  lane).
- **How partitions decode.** ``partition_values`` turns an engine
  file's partition string into per-column values (hive NULL -> None);
  ``hive_values`` reads the ``col=value`` directory segments of a
  staged or published part file.
- **How part files are staged.** ``stage_parts`` writes a frame to a
  temporary directory outside the table, hive-partitioned through
  shadow columns so the partition source columns stay physical, and
  yields the non-empty part files; the caller names and publishes them.
- **How state is read.** ``read_state``/``list_state`` go through the
  store seam for the writer and read the materialized layout directly
  for external replay.
- **When an orphan may go.** ``sweep_orphans`` deletes owned objects no
  retained state mentions, behind a VACUUM-style age guard.
- **How a physical-name reader resolves renamed columns**
  (``read_physical``).

The commit point itself is ``object_publish.Publisher.commit``. Each
exporter keeps only its own bytes: Delta's JSON actions and checkpoint
parquet, Iceberg's Avro manifests and metadata.json, Hudi's timeline
instants, hardlinked slices, log blocks and metadata table.

The MOR delta prunes to the log-bearing file groups: log-borne changes
can only touch keys inside the live logs' footer key ranges, so the
base side cuts to files whose (partition, key range) overlaps a live
log — a metadata-only file cut. With a small hot log tail this is two
scans of the hot groups, never two full-table scans.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import tempfile
from urllib.parse import unquote

from onehouse_demos_spark.tables.table import DELETED_COL, HIVE_DEFAULT_PARTITION

# ---------------------------------------------------------------- guards


def assert_no_tombstones(files) -> None:
    """Refuse base files whose footer stats show soft-deleted rows: a
    personality over raw base files would serve them."""
    for fm in files:
        st = (fm.col_stats or {}).get(DELETED_COL)
        if st is not None and st[1] is True:
            raise RuntimeError(
                f"live base file {fm.path} carries _oh_is_deleted=true "
                "rows (un-compacted MOR delete); a Delta personality "
                "over raw base files would resurrect them. Run "
                "compaction first, or export a materialized snapshot "
                "(interop.export_snapshot)."
            )


def assert_no_log_tombstones(table) -> None:
    """Guard for base-files-only personality modes (Hudi's plain
    read-optimized sync): MOR deletes live in LOG files, which base-file
    stats never see, so serving raw base files would resurrect them."""
    for fm in table.manifest.live_files(include_logs=True):
        if fm.kind != "log":
            continue
        st = (fm.col_stats or {}).get(DELETED_COL)
        if st is not None and st[1] is True:
            raise RuntimeError(
                f"live log file {fm.path} carries un-compacted delete "
                "tombstones; a base-files-only personality would serve "
                "the deleted rows. Run compaction first."
            )


def partition_columns(table) -> list[str]:
    """Partition columns every personality declares: the physical
    `partition_by` source columns (identity partitioning, the only kind
    the on-disk layout encodes losslessly). Derived `partition_expr`
    tables export unpartitioned — the expression's source value is not
    recoverable per file."""
    return list(table.config.partition_by or [])


# ------------------------------------------------------ partition decode


def partition_values(fm, cols: list[str]) -> dict[str, str | None]:
    """Decode a file's partition string into per-column values (the
    hive NULL marker decodes to None). Multi-column partitions join
    with '/' on the write side (`table._partition_path_expr`), so the
    decode is a split."""
    if not cols:
        return {}
    parts = (fm.partition or "").split("/")
    if len(parts) != len(cols):
        raise RuntimeError(
            f"file {fm.path}: partition path {fm.partition!r} does not "
            f"decode into {len(cols)} column value(s) {cols} — a "
            "partition value containing '/' cannot be exported as a "
            "partition spec"
        )
    return {
        c: (None if p == HIVE_DEFAULT_PARTITION else p)
        for c, p in zip(cols, parts)
    }


def hive_values(rel_dir: str) -> list[str]:
    """Unescaped values of a relative directory's `col=value` segments,
    in path order (the hive NULL marker is kept literally, as in the
    engine's own FileMeta partition strings)."""
    return [
        unquote(s.split("=", 1)[1])
        for s in rel_dir.replace(os.sep, "/").split("/")
        if "=" in s
    ]


# --------------------------------------------------------------- staging


@contextlib.contextmanager
def stage_parts(df, part_cols: list[str]):
    """Write `df` to a staging directory outside the table (a crash
    must not leave a staging tree in the published layout) and yield
    an iterator over its non-empty part files, in sorted order, as
    ``(src, part_dir, raw_values, ParquetFile)``: `part_dir` is the
    escaped `col=value/...` directory to publish under ('' when
    unpartitioned), `raw_values` its unescaped values. The write
    partitions by SHADOW copies of the partition columns because
    Spark's partitionBy strips the partitioning column from the data,
    while personality data files must carry it physically like the
    engine's base files do. The staging directory is removed on exit."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    shadow = [f"_oh_stage_pp_{i}" for i in range(len(part_cols))]
    staging = tempfile.mkdtemp(prefix="oh_personality_staging_")

    def parts():
        for dirpath, _dirs, names in sorted(os.walk(staging)):
            rel = os.path.relpath(dirpath, staging)
            segs = [s.split("=", 1)[1] for s in rel.split(os.sep)] if rel != "." else []
            part_dir = "/".join(f"{c}={v}" for c, v in zip(part_cols, segs))
            for n in sorted(names):
                if not (n.endswith(".parquet") and n.startswith("part-")):
                    continue
                src = os.path.join(dirpath, n)
                pf = pq.ParquetFile(src)
                if pf.metadata.num_rows:
                    yield src, part_dir, hive_values(rel), pf

    try:
        for s, c in zip(shadow, part_cols):
            df = df.withColumn(s, F.col(c))
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*shadow)
        writer.parquet(staging)
        yield parts()
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# ----------------------------------------------------------- state reads


def read_state(abs_path: str, pub=None) -> bytes | None:
    """One state object's bytes (None when absent): through the store
    seam when the caller is the writer (`pub` given), direct file I/O
    over the materialized layout for external replay, which models
    engines reading the bucket through their own stacks."""
    if pub is not None:
        return pub.get_bytes(abs_path)
    try:
        with open(abs_path, "rb") as fh:
            return fh.read()
    except OSError:
        return None


def list_state(abs_dir: str, pub=None) -> list[str]:
    """Names directly under a state directory; seam or direct like
    `read_state`."""
    if pub is not None:
        return pub.list_rel(abs_dir)
    return os.listdir(abs_dir) if os.path.isdir(abs_dir) else []


# ----------------------------------------------------------- orphan sweep


def sweep_orphans(table, pub, owned, kept: set[str], now_ms: int,
                  grace_ms: int) -> int:
    """Delete every on-disk object under the table for which
    `owned(rel_path)` holds and that `kept` does not name; returns the
    count. Engine files are never candidates, because only
    personality-owned names qualify. The age guard skips objects
    younger than `grace_ms`: an unmentioned young object may belong to
    a concurrent in-flight sync that has published its files but not
    yet reached its commit point."""
    removed = 0
    for dirpath, _dirs, names in os.walk(table.base_path):
        for fn in names:
            rel = os.path.relpath(
                os.path.join(dirpath, fn), table.base_path
            ).replace(os.sep, "/")
            if not owned(rel) or rel in kept:
                continue
            abs_path = os.path.join(table.base_path, rel)
            mt = pub.mtime_ms(abs_path)
            if mt is not None and now_ms - mt < grace_ms:
                continue
            pub.delete(abs_path)
            removed += 1
    return removed


# ---------------------------------------------------------- reader tail


def read_physical(spark, paths: list[str], schema, phys: dict[str, str]):
    """Scan `paths` the way a column-mapping-aware client does: read
    with the table schema under PHYSICAL names (files written before a
    schema evolution lack newer columns, and an explicit schema
    null-fills them instead of letting the first file's schema win),
    then rename back to the logical names."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    if not paths:
        return spark.createDataFrame([], schema)
    reader_schema = T.StructType(
        [T.StructField(phys[f.name], f.dataType, True) for f in schema.fields]
    )
    df = spark.read.schema(reader_schema).parquet(*paths)
    if any(phys[f.name] != f.name for f in schema.fields):
        df = df.select(
            *[F.col(phys[f.name]).alias(f.name) for f in schema.fields]
        )
    return df


# ------------------------------------------------ base-vs-realtime delta


def _overlapping(a, b, match_partition: bool) -> bool:
    """Can file `a` and file `b` share a record key? Partition match
    (per-partition key identity — skipped for global-index tables,
    where a log row may target any partition) + footer key-range
    overlap; missing stats are conservatively kept."""
    if match_partition and (a.partition or "") != (b.partition or ""):
        return False
    if None in (a.key_min, a.key_max, b.key_min, b.key_max):
        return True
    return not (a.key_max < b.key_min or a.key_min > b.key_max)


def _scope(table):
    """(cand_base, logs) — the log-bearing file groups, or None when
    the table has no live log files."""
    files = table.manifest.live_files(include_logs=True)
    logs = [f for f in files if f.kind == "log"]
    if not logs:
        return None
    match_part = table.config.index_scope != "global"
    cand_base = [
        b
        for b in files
        if b.kind == "base"
        and any(_overlapping(b, lg, match_part) for lg in logs)
    ]
    return cand_base, logs


def rt_delta(table, part_cols: list[str]):
    """The exact difference between the real-time MOR merge and the
    base files, GROUP-PRUNED. Returns None when the table has no live
    log files, else a dict:

    - ``eqdel``: frame of `_oh_record_key` (+ BASE-row partition
      columns) whose base rows the personality must mask — keys the
      merge deletes AND keys whose winning version is log-borne
      (updates; the fresh version rides ``new_rows``).
    - ``new_rows``: full winner rows whose version is not in any base
      file — log-borne updates and inserts — exactly what an appended
      data file at the new sequence must carry for the personality to
      serve the `_rt` view (reference `README.md:756-776`).
    - ``base_paths`` / ``log_paths``: the pruned scan scope, exposed
      for plan pins (tests assert inputFiles ⊆ these).

    EXACT by construction: the engine's own `_merge_latest`
    (latest-commit-wins + precombine) decides winners, and the
    commit-time witness — winner commit ≠ base-row commit — is the
    same rewrite test the CDF `changes()` feed uses. Fully
    distributed; no driver collection."""
    from pyspark.sql import functions as F

    from onehouse_demos_spark.tables.table import COMMIT_COL, KEY_COL

    scope = _scope(table)
    if scope is None:
        return None
    cand_base, logs = scope
    match_part = table.config.index_scope != "global"
    merged = table._merge_latest(
        table._read_files(cand_base + logs), filter_deleted=False
    )
    cols = merged.columns
    base_df = table._read_files(cand_base) if cand_base else None
    if base_df is None:
        # no base file can hold a logged key: every surviving winner
        # is a log-borne insert; nothing exists to mask
        return {
            "eqdel": None,
            "new_rows": merged.filter(~F.col(DELETED_COL)).select(*cols),
            "base_paths": [],
            "log_paths": [f.path for f in logs],
        }
    bk_cols = [
        F.col(KEY_COL).alias("_oh_base_key"),
        F.col(COMMIT_COL).alias("_oh_base_commit"),
    ] + [F.col(c).alias(f"_oh_base_{c}") for c in part_cols]
    base_keys = base_df.filter(~F.col(DELETED_COL)).select(*bk_cols)
    cond = F.col(KEY_COL) == F.col("_oh_base_key")
    if match_part:
        for c in part_cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"_oh_base_{c}"))
    j = merged.join(base_keys, cond, "left_outer")
    in_base = F.col("_oh_base_key").isNotNull()
    # "rewritten" = the winning version is not the base row — the
    # commit-time witness, exact regardless of precombine stability
    rewritten = ~in_base | (
        ~F.col(COMMIT_COL).eqNullSafe(F.col("_oh_base_commit"))
    )
    eqdel = j.filter(
        in_base & (F.col(DELETED_COL) | rewritten)
    ).select(
        F.col(KEY_COL),
        # mask the BASE row: its own partition (a global-index upsert
        # may move a key across partitions)
        *[F.col(f"_oh_base_{c}").alias(c) for c in part_cols],
    )
    # A key held by TWO live base twins (delete + base re-insert, then
    # a log write) joins the one winner row to BOTH twins — the eqdel
    # side wants both pairs (both twins must be masked; the reader
    # distincts delete keys anyway), but the winner must be appended
    # exactly ONCE per merge identity or the personality serves
    # duplicates the engine merge never does.
    ident = [KEY_COL] + (part_cols if match_part else [])
    new_rows = (
        j.filter(~F.col(DELETED_COL) & rewritten)
        .select(*cols)
        .dropDuplicates(ident)
    )
    return {
        "eqdel": eqdel,
        "new_rows": new_rows,
        "base_paths": [f.path for f in cand_base],
        "log_paths": [f.path for f in logs],
    }


def rt_group_rewrite(table):
    """The COW flavour: the full real-time view of ONLY the
    log-bearing file groups (merged winners of candidate base files +
    all live logs, deletes dropped) — what a Delta personality must
    serve in place of the stale candidate base files. Returns None
    when no live logs exist, else {"merged": DataFrame,
    "cand_base": [FileMeta], "log_paths": [...]}. Log-only inserts
    (keys in no base file) ride the same frame."""
    scope = _scope(table)
    if scope is None:
        return None
    cand_base, logs = scope
    merged = table._merge_latest(table._read_files(cand_base + logs))
    return {
        "merged": merged,
        "cand_base": cand_base,
        "log_paths": [f.path for f in logs],
    }


def rewrite_digest(cand_base, log_paths: list[str]) -> str:
    """Deterministic name component for the rewrite outputs: the
    log-bearing state is fully identified by the immutable candidate
    base files + live log files (log files are append-unique, so any
    new log content changes the set)."""
    payload = "\n".join(
        sorted(f.path for f in cand_base) + ["--"] + sorted(log_paths)
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:12]
