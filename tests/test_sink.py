"""Keyed idempotent sink + checkpoint tests (SURVEY.md §5.2 item 2: re-run
idempotency, tag-removal tombstone, checkpoint pre-scan stamping)."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from knowledgebot_spark.sinks.checkpoint import IncrementalRun, load_state, save_state
from knowledgebot_spark.sinks.keyed_parquet import (
    serialize_chunk_files,
    table_row_count,
    upsert_chunks,
)

COLS = ["msg_key", "channel_name", "msg_date", "snippet_no", "content"]


SCHEMA = (
    "msg_key string, channel_name string, msg_date string, "
    "snippet_no bigint, content string"
)


def _chunks(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path).select(*COLS).collect()
    )


def test_initial_write_and_rerun_idempotent(spark, tmp_path):
    path = str(tmp_path / "chunks")
    batch = _chunks(
        spark,
        [
            ("C1_1.0", "general", "20250101", 1, "a"),
            ("C1_1.0", "general", "20250101", 2, "b"),
            ("C1_2.0", "general", "20250102", 1, "c"),
        ],
    )
    upsert_chunks(spark, path, batch)
    first = _snapshot(spark, path)
    assert len(first) == 3
    # replaying the identical batch (at-least-once delivery) is a no-op
    upsert_chunks(spark, path, batch)
    assert _snapshot(spark, path) == first


def test_update_replaces_only_reprocessed_key(spark, tmp_path):
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "old-a"),
                ("C1_1.0", "general", "20250101", 2, "old-b"),
                ("C1_2.0", "general", "20250101", 1, "keep"),
                ("C2_9.0", "random", "20250103", 1, "other-part"),
            ],
        ),
    )
    # reprocess C1_1.0: now only ONE chunk (the second was edited away)
    upsert_chunks(
        spark, path, _chunks(spark, [("C1_1.0", "general", "20250101", 1, "new-a")])
    )
    got = _snapshot(spark, path)
    assert got == sorted(
        [
            ("C1_1.0", "general", "20250101", 1, "new-a"),
            ("C1_2.0", "general", "20250101", 1, "keep"),
            ("C2_9.0", "random", "20250103", 1, "other-part"),
        ]
    )


def test_tag_removal_tombstone(spark, tmp_path):
    # K2: the delete runs even when the new text has no #KNOWLEDGE -> the
    # reprocessed key is passed explicitly with ZERO new rows.
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "stale"),
                ("C1_2.0", "general", "20250101", 1, "keep"),
            ],
        ),
    )
    empty = _chunks(spark, [])
    keys = spark.createDataFrame([("C1_1.0",)], ["msg_key"])
    upsert_chunks(spark, path, empty, reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("C1_2.0", "general", "20250101", 1, "keep")]


def test_tombstone_can_empty_a_partition(spark, tmp_path):
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "only-row-in-part"),
                ("C2_2.0", "random", "20250102", 1, "keep"),
            ],
        ),
    )
    empty = _chunks(spark, [])
    keys = spark.createDataFrame([("C1_1.0",)], ["msg_key"])
    upsert_chunks(spark, path, empty, reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("C2_2.0", "random", "20250102", 1, "keep")]


def test_serialize_chunk_files_format(spark):
    df = spark.createDataFrame(
        [("k1", "Channel Name: g\nMessage Author: A", " body text ")],
        ["chunk_key", "header", "content"],
    )
    r = serialize_chunk_files(df).collect()[0]
    # Byte-exact reference format (KnowledgeBot.py:408-419): each header
    # line ends with \n, then the f.write("\n---\n\n") separator
    assert r.value == "Channel Name: g\nMessage Author: A\n\n---\n\nbody text"


def test_checkpoint_default_missing_and_corrupt(tmp_path):
    state_dir = str(tmp_path / "state")
    assert load_state(state_dir) == {"last_run_timestamp": 0}
    # corrupt file -> default (KnowledgeBot.py:145-155)
    import os

    os.makedirs(state_dir, exist_ok=True)
    with open(f"{state_dir}/state.json", "w") as fh:
        fh.write("{not json")
    assert load_state(state_dir) == {"last_run_timestamp": 0}


def test_checkpoint_prescan_stamp(tmp_path):
    # K5: the committed stamp is the PRE-scan time (KnowledgeBot.py:110),
    # not the commit time — mid-run arrivals are re-examined next run.
    state_dir = str(tmp_path / "state")
    run1 = IncrementalRun(state_dir, now_micros=1000)
    assert run1.checkpoint_micros == 0
    run1.commit()
    run2 = IncrementalRun(state_dir, now_micros=2000)
    assert run2.checkpoint_micros == 1000
    # uncommitted run leaves state untouched
    run3 = IncrementalRun(state_dir, now_micros=3000)
    assert load_state(state_dir)["last_run_timestamp"] == 1000
    del run3
    run2.commit()
    assert load_state(state_dir)["last_run_timestamp"] == 2000


def test_tombstone_escaped_partition_value(spark, tmp_path):
    # Hive-escaped partition dirs: a channel name containing ':' '/' '%'
    # is written by Spark as %XX-escaped; the emptied-partition rewrite
    # must address the SAME directory (reviewer scenario: unescaped path
    # created a bogus leaf while stale rows resurfaced).
    path = str(tmp_path / "chunks")
    weird = "a:b/c%d"
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("K1", weird, "20250101", 1, "stale"),
                ("K2", "normal", "20250101", 1, "keep"),
            ],
        ),
    )
    assert _snapshot(spark, path) == sorted(
        [("K1", weird, "20250101", 1, "stale"), ("K2", "normal", "20250101", 1, "keep")]
    )
    # tombstone the only row of the weird partition
    keys = spark.createDataFrame([("K1",)], ["msg_key"])
    upsert_chunks(spark, path, _chunks(spark, []), reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("K2", "normal", "20250101", 1, "keep")]


def test_keyed_sink_reads_prune_partitions(spark, tmp_path):
    """A channel/date predicate over the keyed table must prune at the
    DIRECTORY level (PartitionFilters on the scan), never by reading all
    partitions and filtering rows — the property that makes per-channel
    incremental reads O(channel) instead of O(corpus) at 100 TB."""
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("m1", "general", "20240101", 0, "a"),
                ("m2", "random", "20240102", 0, "b"),
            ],
        ),
        key_col="msg_key",
        partition_cols=("channel_name", "msg_date"),
    )
    df = spark.read.parquet(path).filter(F.col("channel_name") == "general")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "channel_name" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_tombstone_bool_and_null_partition_values(spark, tmp_path):
    """Partition canonicalization must agree with Spark's directory
    rendering for NON-string partition types: boolean renders 'true' (not
    Python's 'True') and null renders __HIVE_DEFAULT_PARTITION__.  A fully
    tombstoned bool- or null-valued partition must be emptied — with the
    old Python-str canonicalization the bool partition compared as 'True'
    and never matched, leaving stale files behind (ADVICE r6 #1)."""
    schema = "msg_key string, flagged boolean, region string, content string"
    path = str(tmp_path / "boolpart")
    batch = spark.createDataFrame(
        [
            ("K1", True, "eu", "doomed-true-part"),
            ("K2", False, None, "doomed-null-part"),
            ("K3", False, "us", "keep"),
        ],
        schema,
    )
    upsert_chunks(
        spark, path, batch, key_col="msg_key",
        partition_cols=("flagged", "region"),
    )
    # tombstone K1 and K2 with zero replacement rows: their partitions
    # (flagged=true/region=eu and flagged=false/region=null) become empty
    keys = spark.createDataFrame([("K1",), ("K2",)], ["msg_key"])
    upsert_chunks(
        spark, path, spark.createDataFrame([], schema),
        reprocessed_keys=keys, key_col="msg_key",
        partition_cols=("flagged", "region"),
    )
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("msg_key", "flagged", "region", "content")
        .collect()
    )
    # partition values read back as directory-name strings (partition
    # type inference is pinned off session-wide)
    assert rows == [("K3", "false", "us", "keep")]


def _files(path):
    return {p: p.read_bytes() for p in path.rglob("*") if p.is_file()}


def test_unreadable_table_raises_and_is_left_untouched(spark, tmp_path):
    """A table whose data file cannot be read is not a new table: the merge
    must raise and leave every file in place.  Treating the read error as
    "no table" would take the first-write path, whose overwrite replaces
    every partition with the new batch alone."""
    path = tmp_path / "chunks"
    path.mkdir()
    (path / "part-00000-corrupt.snappy.parquet").write_bytes(b"PAR1 not a footer")
    before = _files(path)
    batch = _chunks(spark, [("C1_1.0", "general", "20250101", 1, "new")])
    with pytest.raises(Py4JJavaError, match="footer"):
        upsert_chunks(spark, str(path), batch)
    assert _files(path) == before


def test_directory_without_data_files_is_a_new_table(spark, tmp_path):
    """A missing path or a directory holding only markers (``_SUCCESS``,
    hidden files) takes the first-write path."""
    path = tmp_path / "chunks"
    path.mkdir()
    (path / "_SUCCESS").write_bytes(b"")
    (path / ".part-00000.crc").write_bytes(b"")
    batch = _chunks(spark, [("C1_1.0", "general", "20250101", 1, "a")])
    upsert_chunks(spark, str(path), batch)
    assert _snapshot(spark, str(path)) == [("C1_1.0", "general", "20250101", 1, "a")]
    assert table_row_count(str(path)) == 1
