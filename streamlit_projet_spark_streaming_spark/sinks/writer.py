"""Partitioned gold-table writer, swap-in gold publish + packed training-shard export.

The reference materializes its gold layer as BigQuery views
(``bigquery_views.sql:1-128``) and lets the warehouse own physical layout.
On Spark the LAYOUT IS THE QUERY PLAN of every downstream reader: a gold
table partitioned by the columns readers filter on turns those filters
into directory pruning (zero I/O for excluded partitions), and sorting
within files gives parquet min/max row-group statistics that prune
row-groups for range predicates. These writers make that layout explicit
and testable.

Scale stance (100 TB):

- ``repartition(partition_cols)`` before ``partitionBy`` means each output
  partition directory is written by the tasks that OWN that key — without
  it, every task holds a writer per live partition value (the classic
  small-files / memory blowup: tasks × partitions files).
- ``maxRecordsPerFile`` bounds file size without an extra shuffle; AQE's
  coalescing handles the opposite (too-small) end.
- Skewed partition values (one language = half the corpus) would make one
  task write half the data: pass ``spread`` > 1 to salt the repartition —
  files per hot partition rise to ``spread``, tasks stay balanced, and
  within-file sort order is preserved (the salt only splits, it never
  interleaves).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str] = (),
    max_records_per_file: int | None = None,
    spread: int = 1,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a hive-partitioned parquet gold table: directory
    per ``partition_cols`` value, rows sorted by ``sort_cols`` inside
    each file (row-group min/max pruning for downstream range filters).

    ``spread`` > 1 salts the pre-write repartition so a hot partition
    value is written by ``spread`` tasks (``spread`` files) instead of
    one — the write-side analogue of the salted join.
    """
    keys = [F.col(c) for c in partition_cols]
    if spread > 1:
        salt = F.pmod(F.xxhash64(*keys, F.monotonically_increasing_id()), F.lit(spread))
        # Explicit partition count: a byte-small salted shuffle is exactly
        # what AQE's coalescing folds back to one task (CLAUDE.md pitfall),
        # which would undo the spread. REPARTITION_BY_NUM is honored as-is.
        n = max(df.sparkSession.sparkContext.defaultParallelism, spread * 8)
        out = df.repartition(n, *keys, salt)
    else:
        out = df.repartition(*keys)
    if sort_cols:
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    w = out.write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(*partition_cols).parquet(path)


def publish_table(df: DataFrame, path: str) -> None:
    """Replace the parquet table at ``path`` with ``df`` so a failed job
    never leaves it empty (``mode("overwrite")`` deletes its target before
    the job runs). The write goes to ``_staging_<name>`` beside ``path``
    (underscore-prefixed: Spark's FileIndex ignores it) and a finished
    table is swapped in by two renames, old → ``_old_<name>`` → dropped.
    A crash between the renames leaves ``_old_<name>``, which the next
    publish restores first."""
    import shutil

    parent, name = os.path.split(os.path.normpath(path))
    staging = os.path.join(parent, f"_staging_{name}")
    old = os.path.join(parent, f"_old_{name}")
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)
    try:
        df.write.mode("overwrite").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def read_gold(spark: SparkSession, path: str) -> DataFrame:
    """Read a gold table written by :func:`write_partitioned`. Partition
    columns come back from directory names; filters on them prune
    directories before any file opens (assert: ``PartitionFilters`` in
    the scan node, shrinking ``inputFiles()``)."""
    return spark.read.parquet(path)


def write_packed_shards(
    documents: DataFrame,
    path: str,
    token_col: str,
    budget: int = 256,
    n_buckets: int = 32,
    order_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Export a curated corpus as packed training shards: assign each doc
    a (bucket, pack) slot via ``sampling.greedy_pack`` (fixed-stride
    context packing), then write one directory per bucket with rows in
    (pack, position) order — exactly the layout a tokenizing shard
    consumer streams sequentially.

    The pack assignment join is key-aligned: ``greedy_pack`` output and
    ``documents`` join on the id column, then ONE repartition on
    ``bucket`` feeds both the directory layout and the within-file
    (pack, order) sort. Buckets are hash-balanced by construction, so no
    ``spread`` salt is needed here.
    """
    from ..operators.sampling import greedy_pack

    id_col = "doc_id"
    packs = greedy_pack(
        documents,
        id_col,
        token_col,
        budget=budget,
        n_buckets=n_buckets,
        order_col=order_col,
    )
    assembled = documents.join(packs.select(id_col, "bucket", "pack_ix"), id_col)
    (
        assembled.repartition("bucket")
        .sortWithinPartitions("bucket", "pack_ix", *([order_col] if order_col else []), id_col)
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


#: Staging / backup directory names under the shard root. The leading
#: underscore makes Spark's FileIndex (and every parquet reader that
#: honors the `_`-prefix convention) ignore them, so a reader never
#: double-counts mid-consolidation state.
_STAGING_DIR = "_staging_merge"
_BACKUP_PREFIX = "_backup_bucket="


def _recover_backups(path: str) -> None:
    """Crash recovery for the staging swap: a leftover
    ``_backup_bucket=N`` means a previous run died inside
    :func:`_swap_bucket_dir`. If ``bucket=N`` exists the crash was after
    the staged rename (new data live) — drop the stale backup; if it is
    missing the crash was between the two renames — restore the backup.
    Either way the corpus is whole again before planning."""
    import shutil

    for name in os.listdir(path):
        if not name.startswith(_BACKUP_PREFIX):
            continue
        b = name[len(_BACKUP_PREFIX):]
        final = os.path.join(path, f"bucket={b}")
        backup = os.path.join(path, name)
        if os.path.exists(final):
            shutil.rmtree(backup)
        else:
            os.rename(backup, final)


def _swap_bucket_dir(path: str, staging: str, bucket: int) -> None:
    """Per-bucket near-atomic swap: two POSIX renames bracket the only
    crash window, and both sides of that window are recoverable (see
    :func:`_recover_backups`). Separated out so a fault-injection test
    can kill the process between buckets."""
    import shutil

    final = os.path.join(path, f"bucket={bucket}")
    staged = os.path.join(staging, f"bucket={bucket}")
    backup = os.path.join(path, f"{_BACKUP_PREFIX}{bucket}")
    os.rename(final, backup)
    os.rename(staged, final)
    shutil.rmtree(backup)


def merge_packed_shards(
    spark: SparkSession,
    path: str,
    token_col: str,
    budget: int,
    order_col: str | None = None,
    strategy: str = "staging",
) -> DataFrame:
    """Apply a :func:`~..operators.sampling.shard_merge_plan` to an
    existing :func:`write_packed_shards` layout, rewriting ONLY the
    bucket directories that contain merge rows — the consolidation pass
    a curation pipeline runs after dedup shrinks previously full packs
    (r8 verdict item 7 roadmap: the shard-merge half).

    Shared mechanics (both strategies):

    - the plan is computed from the CURRENT on-disk pack totals (so the
      caller deletes/dedups rows first, then consolidates);
    - a converged layout (no merge rows — single-pack merge groups plan
      as keeps) is a NO-OP: nothing is written, the all-keep plan is
      returned, and reruns never churn directories (idempotent);
    - keeps retain their ``pack_ix``; each merge group takes a fresh id
      above the bucket's current maximum (``max pack_ix + 1 +
      merged_pack_ix``), so ids never collide and keeps' file contents
      are byte-stable;
    - only affected buckets are rewritten — at real scale the
      difference between consolidating 2% of shards and re-exporting
      the corpus.

    ``strategy="staging"`` (default — durable): affected buckets are
    written to ``<path>/_staging_merge`` (underscore-prefixed, invisible
    to readers) while the source tree stays untouched, then each bucket
    is swapped in with two POSIX renames (old → ``_backup_bucket=N``,
    staged → live) and the backup dropped. No executor-storage
    checkpoint of the data is needed: the write's lineage reads the
    original files because it writes elsewhere. Crash windows: during
    the staging write, the source tree is untouched; between the two
    renames, ``_backup_bucket=N`` holds the bucket and the next run's
    :func:`_recover_backups` restores it; after the staged rename, the
    new data is live and the stale backup is dropped on the next run.
    A mid-run kill therefore leaves every bucket either fully old or
    fully new — per-bucket atomicity, cross-bucket progress. Requires a
    posix-renameable path (local/NFS; on HDFS the same two-rename
    protocol holds via the FileSystem API, but object stores without
    atomic rename should use ``inplace``).

    ``strategy="inplace"`` (opt-in): dynamic partition overwrite of the
    affected buckets. One job, no renames, works on any committer — but
    the affected rows must be eagerly ``localCheckpoint``-ed first
    (Spark cannot overwrite files its own plan is reading), and a crash
    after that checkpoint but mid-write leaves recovery to the parquet
    commit protocol rather than an untouched source tree.

    Returns the plan DataFrame (already consumed for the rewrite; the
    caller typically persists it as the consolidation audit record).
    """
    from ..operators.sampling import shard_merge_plan

    if strategy not in ("staging", "inplace"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    is_remote = "://" in path and not path.startswith("file://")
    if strategy == "staging":
        if is_remote:
            raise ValueError(
                "staging strategy needs a posix-renameable path; use "
                "strategy='inplace' for object-store paths"
            )
        _recover_backups(path)
    current = spark.read.parquet(path)
    plan = shard_merge_plan(current, token_col, budget=budget)
    # EAGER: the plan is both consumed below AND returned to the caller
    # — a lazy checkpoint materialized after the rewrite would recompute
    # from the REWRITTEN files (wrong data, or missing ones). Pack-level
    # rows: tiny.
    plan = plan.localCheckpoint(eager=True)
    merges = plan.filter(F.col("action") == "merge")
    affected_buckets = [r["bucket"] for r in merges.select("bucket").distinct().collect()]
    if not affected_buckets:
        return plan  # converged layout: no-op
    # per-bucket fresh-id offset: above every CURRENT pack id (keeps
    # and merges alike), so renumbered groups never collide
    offsets = plan.groupBy("bucket").agg(
        (F.max("pack_ix") + F.lit(1)).alias("_off")
    )
    affected = merges.select("bucket").distinct()
    rewritten = (
        current.join(affected, "bucket", "leftsemi")
        .join(
            merges.select("bucket", "pack_ix", "merged_pack_ix"),
            ["bucket", "pack_ix"],
            "left",
        )
        .join(offsets, "bucket")
        .withColumn(
            "pack_ix",
            F.when(
                F.col("merged_pack_ix").isNotNull(),
                F.col("_off") + F.col("merged_pack_ix"),
            ).otherwise(F.col("pack_ix")),
        )
        .drop("merged_pack_ix", "_off")
    )
    sort_tail = [order_col] if order_col else []
    if strategy == "staging":
        import shutil

        staging = os.path.join(path, _STAGING_DIR)
        if os.path.exists(staging):
            shutil.rmtree(staging)  # leftover from a crashed run
        # source tree untouched while this job runs: lineage reads the
        # original files, the write lands in the staging dir
        (
            rewritten.repartition("bucket")
            .sortWithinPartitions("bucket", "pack_ix", *sort_tail, "doc_id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staging)
        )
        for b in sorted(affected_buckets):
            _swap_bucket_dir(path, staging, b)
        shutil.rmtree(staging)
        return plan
    # inplace: EAGER materialization breaks the read-path lineage — the
    # write below overwrites the very files the plan scans (Spark
    # rejects a direct self-overwrite, and a lazy checkpoint would
    # still read during the write job). Cost is bounded by the AFFECTED
    # buckets' rows on executor storage.
    rewritten = rewritten.localCheckpoint(eager=True)
    (
        rewritten.repartition("bucket")
        .sortWithinPartitions("bucket", "pack_ix", *sort_tail, "doc_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )
    return plan
