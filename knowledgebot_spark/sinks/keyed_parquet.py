"""Keyed idempotent parquet sink (SURVEY.md §2.1 K1/K2/K6, §4 O7).

Re-expresses the reference's delete-then-rewrite file sink
(``_delete_knowledge_chunks`` KnowledgeBot.py:351-379 + write call site
:483-485,526) as a partition-local MERGE over a parquet table:

  1. delete every existing row whose ``msg_key`` is being reprocessed —
     **even when the new batch has zero rows for that key** (tag removal
     deletes stale chunks: the reference deletes at :485 *before* the
     `#KNOWLEDGE` filter at :493);
  2. append the new rows.

One merge is one pass over the existing table plus one write:

  * the new batch is materialized once (eager ``localCheckpoint``), so
    its upstream lineage runs once and later jobs scan the checkpoint
    instead of re-planning it;
  * one grouped pass over (existing rows flagged by a broadcast left join
    against the reprocessed keys) ∪ (new rows) yields every partition that
    holds a reprocessed key or receives new rows — the affected set — with
    the rows it holds after the merge, zero for the emptied set: both come
    out of the same collect;
  * one dynamic-partition-overwrite write replaces the affected
    partitions with survivors ∪ new rows.  It reads the files it replaces,
    which is safe inside one write job: the old files stay in place until
    the job commits, and nothing re-reads that lineage afterwards.  A
    partition left with no rows is rewritten empty on its own.

Failure semantics: a checkpoint block lost to a dead executor fails the
job that needs it, so the merge raises before (or during) its one write —
an uncommitted dynamic overwrite leaves the old partitions in place.  A
caller that only advances its own state after the sink returns (the
incremental run's checkpoint, a stream's offset log) redoes the batch next
time, and replaying a batch is a no-op because the sink is keyed.

Scale posture (100 TB): the table is partitioned by
``(channel_name, msg_date)``; an incremental batch touches only the
partitions its keys live in, so the write reads + rewrites just those
partitions via dynamic partition overwrite — never the whole table (the
grouped pass reads the key and partition columns only).  The reprocessed
keys of one batch are small (one run's messages), so both joins against
existing rows broadcast the key set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PARTITIONS = ("channel_name", "msg_date")

# Hive escapePathName: these chars (plus ASCII control chars) are %XX-encoded
# in partition directory names — hand-built paths must match or a tombstone
# rewrite targets the wrong directory.
_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^')  # note: '}' is NOT escaped by Spark


def _escape_partition_value(value) -> str:
    if value is None:
        # Spark writes null partition values to this sentinel directory.
        return "__HIVE_DEFAULT_PARTITION__"
    out = []
    for ch in str(value):
        if ch in _ESCAPE_CHARS or ord(ch) < 0x20 or ch == "\x7f":
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``_``/``.``-prefixed names are not data
    (``_SUCCESS``, ``.crc``, ``_temporary``), except ``_col=value`` dirs."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str):
    """Every data file under ``path`` that a parquet read would scan."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for f in files:
            if not _hidden(f):
                yield os.path.join(root, f)


def _table_exists(path: str) -> bool:
    """A table exists once its directory holds a data file.  Only a missing
    path or a directory without data files is new: an unreadable table must
    make the merge raise, never fall through to the first-write overwrite
    that would replace every partition with the new batch alone."""
    return next(_data_files(path), None) is not None


def table_row_count(path: str) -> int:
    """Rows in the table, summed from the parquet footers on the driver:
    file metadata only — no data pages and no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def _partition_stats(
    existing: DataFrame,
    new_rows: DataFrame,
    keys: DataFrame,
    key_col: str,
    partition_cols: tuple[str, ...],
) -> list:
    """One grouped pass: for every partition that holds a reprocessed key or
    receives new rows, (partition values, rows it holds after the merge).

    Partition values are canonicalized to STRINGS on both sides: the
    read-back side surfaces them as strings (partitionColumnTypeInference
    is pinned off), while a new batch carries native types — grouping raw
    values would make e.g. bigint 3 from the batch and string '3' from disk
    DIFFERENT partitions, sending every existing partition down the
    emptied-rewrite path and wiping the table (caught by kb_vector_upsert's
    bigint bucket key; directory names are strings anyway).  The cast
    happens SPARK-side (not Python str()) so it agrees with Spark's own
    directory rendering — boolean casts to 'true'/'false' (Python str gives
    'True'), and null stays None here, matched null-safely by the write's
    partition predicate and rendered as __HIVE_DEFAULT_PARTITION__ when an
    emptied directory is addressed.

    The left join is duplicate-safe: a key listed twice duplicates only
    rows it matches, which count towards ``touched`` and never towards
    ``after``."""
    canon = [F.col(c).cast("string").alias(c) for c in partition_cols]
    hits = F.broadcast(keys.select(key_col, F.lit(True).alias("_touch")))
    old = existing.select(key_col, *partition_cols).join(hits, key_col, "left").select(
        *canon, "_touch", F.col("_touch").isNull().cast("long").alias("_after")
    )
    new = new_rows.select(
        *canon, F.lit(True).alias("_touch"), F.lit(1).cast("long").alias("_after")
    )
    stats = (
        old.unionByName(new)
        .groupBy(*partition_cols)
        .agg(F.count("_touch").alias("touched"), F.sum("_after").alias("after"))
        .filter(F.col("touched") > 0)
    )
    return [
        (tuple(r[c] for c in partition_cols), r["after"]) for r in stats.collect()
    ]


def upsert_chunks(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    reprocessed_keys: DataFrame | None = None,
    key_col: str = "msg_key",
    partition_cols: tuple[str, ...] = DEFAULT_PARTITIONS,
) -> None:
    """Delete-then-append keyed by ``key_col``.

    ``reprocessed_keys`` is a one-column (key_col) DataFrame of every key
    whose chunks must be replaced; defaults to the keys present in
    ``new_rows``.  Pass it explicitly for tag-removal tombstones (keys whose
    new message text produced zero chunks — K2 semantics).  It is broadcast
    twice (grouped pass, write), so a caller whose key lineage is costly
    passes it materialized.
    """
    if not _table_exists(path):
        (
            new_rows.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
        return

    # a corrupt table raises here or in the grouped pass, before any write
    existing = spark.read.parquet(path)
    new_rows = new_rows.localCheckpoint()
    keys = (new_rows if reprocessed_keys is None else reprocessed_keys).select(key_col)

    stats = _partition_stats(existing, new_rows, keys, key_col, partition_cols)
    if not stats:
        return

    # the affected set of one batch is small (partition metadata, not
    # rows); as a pruning predicate it limits the write's scan to it
    part_pred = F.lit(False)
    for values, _ in stats:
        clause = F.lit(True)
        for col, val in zip(partition_cols, values):
            clause = clause & F.col(col).cast("string").eqNullSafe(
                F.lit(val).cast("string")
            )
        part_pred = part_pred | clause

    survivors = existing.filter(part_pred).join(
        F.broadcast(keys), key_col, "left_anti"
    )
    out = survivors.select(
        [F.col(c).cast(new_rows.schema[c].dataType) for c in new_rows.columns]
    ).unionByName(new_rows)

    # Dynamic partition overwrite: only the partitions present in `out`
    # are replaced; everything else is untouched.
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    # A partition whose every row was tombstoned has no rows in `out`, so
    # dynamic overwrite leaves its stale files; rewrite it empty explicitly
    # (partition values Hive-escaped to address the real directory).
    empty_schema = new_rows.drop(*partition_cols).schema
    for values, rows_after in stats:
        if rows_after:
            continue
        subdir = path + "".join(
            f"/{col}={_escape_partition_value(val)}"
            for col, val in zip(partition_cols, values)
        )
        spark.createDataFrame([], empty_schema).write.mode("overwrite").parquet(subdir)


def serialize_chunk_files(df: DataFrame) -> DataFrame:
    """K1: the reference's on-disk chunk-file format as (chunk_key, value)
    rows, byte-identical to KnowledgeBot.py:408-419: every header line ends
    with ``\\n``, then ``\\n---\\n\\n``, then the stripped body — so the
    bytes after the last header char are ``\\n\\n---\\n\\n``.  Written with
    ``df.write.text`` when actual .txt interop is needed; the parquet table
    remains the source of truth."""
    return df.select(
        F.col("chunk_key"),
        F.concat(
            F.col("header"), F.lit("\n\n---\n\n"), F.trim(F.col("content"))
        ).alias("value"),
    )


def with_processed_marker(df: DataFrame, run_id: str) -> DataFrame:
    """K6: the reference's mortar-board reaction becomes a status column —
    idempotent because re-running a key overwrites the same marker."""
    return df.withColumn("processed_run", F.lit(run_id))
