"""Keyed upsert & last-write-wins merge (reference operators J2, J3) plus
atomic parquet overwrite — the one genuinely stateful physical concern in
the rebuild (SURVEY.md §4.2-1).

J2 — whole-document MERGE on SYMBOL (``dags/minio_to_snowflake.py:66-75``):
WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT; last write wins per key.
Plain-parquet idiom: ``new ∪ (old ⟕anti new)`` — the anti-join is a
broadcast when the delta is small (the common incremental case), so the
big base table is never shuffled.

J3 — map-level per-(symbol, date) merge (``dags/get_stock.py:84-105``):
``existing_series.update(new_series)`` — new API data overwrites
same-date entries, older dates retained. Row-level idiom: union + keep
the newest row per key via max-priority semi-aggregation.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert_by_key(old: DataFrame, new: DataFrame, keys: list[str] | str) -> DataFrame:
    """J2 — keyed upsert: every key present in ``new`` takes ``new``'s row;
    keys only in ``old`` are retained.

    The anti-join probe side is ``new`` (typically the small daily delta),
    so Catalyst broadcasts it and the base table streams through without a
    shuffle — the property that matters at 100 TB.
    """
    keys = [keys] if isinstance(keys, str) else keys
    survivors = old.join(new.select(*keys).distinct(), on=keys, how="left_anti")
    return new.unionByName(survivors)


def merge_last_write_wins(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    order_col: str = "_batch_priority",
) -> DataFrame:
    """J3 — per-key last-write-wins across batches.

    Tags each side with a batch priority, unions, and keeps the highest-
    priority row per key (ties impossible: priorities differ). Implemented
    with row_number over (keys ORDER BY priority DESC) — a single shuffle
    on the merge keys; at scale, AQE handles skewed keys.
    """
    tagged = old.withColumn(order_col, F.lit(0)).unionByName(
        new.withColumn(order_col, F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", order_col)
    )


def atomic_overwrite_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Write-new-then-swap (local-filesystem variant): readers never see a
    TORN table — but the swap is two renames, so a reader can briefly
    observe ``path`` missing between them; and ``os.rename`` requires a
    POSIX filesystem (same mount). Single-writer assumed. For object
    storage / concurrent readers use ``commit_pointer_swap`` below (or a
    transactional table format — Delta/Iceberg — in production); see
    SCALING.md "Materialization".

    Also lets ``upsert_by_key(read(path), delta)`` safely rewrite the very
    path it read from — Spark cannot overwrite an input in place.

    ``partition_by`` hive-partitions the table. No table in the package
    is partitioned any more; the parameter stays only because the write
    wrappers in ``perfbench/spans.py`` forward it positionally.
    """
    tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # don't leak a partial dir
        raise
    if os.path.exists(path):
        old = f"{path}.__old__{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, path)


# --- pointer-swap commit protocol (object-store-safe shape) -------------------

_POINTER = "_CURRENT"


def commit_pointer_swap(df: DataFrame, table_root: str) -> str:
    """Cloud-commit-protocol table write: data lands under an immutable
    versioned prefix, then ONE tiny pointer object is atomically replaced.

    Layout::

        table_root/_CURRENT          <- holds the current version name
        table_root/v_<uuid>/...      <- immutable parquet snapshots

    Readers resolve the pointer first (``read_current``), then read only
    that prefix — they can never observe a torn or missing table, because
    data prefixes are never mutated and the pointer flip is a single
    atomic replace (``os.replace`` locally; a single PUT on object
    stores, which is atomic on S3/GCS). Old versions remain readable by
    in-flight readers until vacuumed. This is the manual core of what
    Delta/Iceberg do with a transaction log — the production answer at
    100 TB; this variant keeps the engine dependency-free.

    Returns the committed version prefix.
    """
    version = f"v_{uuid.uuid4().hex[:12]}"
    data_path = os.path.join(table_root, version)
    try:
        df.write.mode("overwrite").parquet(data_path)
    except BaseException:
        shutil.rmtree(data_path, ignore_errors=True)
        raise
    os.makedirs(table_root, exist_ok=True)
    pointer_tmp = os.path.join(table_root, f".{_POINTER}.{uuid.uuid4().hex[:8]}")
    with open(pointer_tmp, "w") as f:
        f.write(version)
    os.replace(pointer_tmp, os.path.join(table_root, _POINTER))  # atomic flip
    return data_path


def read_current(spark, table_root: str) -> DataFrame:
    """Resolve the pointer, read that immutable snapshot."""
    with open(os.path.join(table_root, _POINTER)) as f:
        version = f.read().strip()
    return spark.read.parquet(os.path.join(table_root, version))


def vacuum_versions(table_root: str, keep: int = 2) -> list[str]:
    """Drop all but the newest ``keep`` version prefixes (never the one
    the pointer names). Returns removed paths. Run out-of-band, after a
    retention window long enough for in-flight readers to finish."""
    with open(os.path.join(table_root, _POINTER)) as f:
        current = f.read().strip()
    versions = sorted(
        (
            n
            for n in os.listdir(table_root)
            if n.startswith("v_") and os.path.isdir(os.path.join(table_root, n))
        ),
        key=lambda n: os.path.getmtime(os.path.join(table_root, n)),
    )
    doomed = [n for n in versions[:-keep] if n != current]
    removed = []
    for n in doomed:
        p = os.path.join(table_root, n)
        shutil.rmtree(p, ignore_errors=True)
        removed.append(p)
    return removed


def list_versions(table_root: str) -> list[str]:
    """Version prefixes oldest → newest (commit order). Commit order is
    mtime order locally; on an object store, encode a monotonic id in
    the prefix instead (same protocol, different name source)."""
    return sorted(
        (
            n
            for n in os.listdir(table_root)
            if n.startswith("v_") and os.path.isdir(os.path.join(table_root, n))
        ),
        key=lambda n: os.path.getmtime(os.path.join(table_root, n)),
    )


def read_version(spark, table_root: str, version: str) -> DataFrame:
    """Time travel: read a named immutable snapshot, bypassing the
    pointer. Valid until ``vacuum_versions`` drops it."""
    return spark.read.parquet(os.path.join(table_root, version))


def compact_current_version(
    spark,
    table_root: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> tuple[str, int, int]:
    """OPTIMIZE: rewrite the current snapshot's small files into
    ~``target_bytes`` files and commit the result as a NEW version via
    the pointer swap — readers are never disturbed, time travel to the
    fragmented version keeps working until vacuum.

    Small files are the silent killer of 100 TB scans (per-file open
    cost, tiny row groups defeat min/max skipping, listing storms);
    streaming/incremental upserts produce them continuously, so
    compaction runs as a periodic out-of-band maintenance pass.

    File count = ceil(current on-disk bytes / target_bytes) — sizing
    from the ACTUAL bytes, not row counts, so wide and narrow tables
    both land near the target. Returns (new_version_path, n_files_in,
    n_files_out).
    """
    with open(os.path.join(table_root, _POINTER)) as f:
        version = f.read().strip()
    cur_dir = os.path.join(table_root, version)
    files = [
        os.path.join(dp, fn)
        for dp, _, fns in os.walk(cur_dir)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    total = sum(os.path.getsize(p) for p in files)
    n_out = max(1, -(-total // target_bytes))  # ceil div
    compacted = spark.read.parquet(cur_dir).repartition(n_out)
    new_path = commit_pointer_swap(compacted, table_root)
    n_files_out = sum(
        1
        for dp, _, fns in os.walk(new_path)
        for fn in fns
        if fn.endswith(".parquet")
    )
    return new_path, len(files), n_files_out
