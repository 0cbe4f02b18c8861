"""End-to-end incremental run tests (SURVEY.md §5.2 item 2): golden-ish
fixture -> chunk table; edited message replaces chunks; tag removal deletes
them; checkpoint advances with pre-scan stamp."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from knowledgebot_spark import incremental
from knowledgebot_spark.incremental import run_extraction

MSG_SCHEMA = (
    "msg_id bigint, channel_id string, ts_micros bigint, ts_raw string, "
    "thread_ts_raw string, thread_ts_micros bigint, user_id string, "
    "msg_text string, full_text string"
)

DAY = 86400 * 1_000_000


def _msg(i, channel, text, thread=None, user="U000001"):
    ts = i * DAY
    return (
        i,
        channel,
        ts,
        f"{i}.000000",
        f"{thread}.000000" if thread is not None else None,
        thread * DAY if thread is not None else None,
        user,
        text,
        text,
    )


@pytest.fixture()
def dims(spark):
    users = spark.createDataFrame(
        [("U000001", "Alice"), ("U000002", "Bob")], ["user_id", "real_name"]
    )
    channels = spark.createDataFrame(
        [("C1", "general", "t", "p")], ["channel_id", "name", "topic", "purpose"]
    )
    members = spark.createDataFrame(
        [("C1", "U000001", "Alice"), ("C1", "U000002", "Bob")],
        ["channel_id", "user_id", "real_name"],
    )
    return users, channels, members


def _run(spark, dims, msgs_rows, out, state, now_days):
    users, channels, members = dims
    msgs = spark.createDataFrame(msgs_rows, MSG_SCHEMA)
    return run_extraction(
        spark, msgs, users, channels, members,
        output_path=out, state_path=state, now_micros=now_days * DAY,
    )


def test_incremental_runs_and_edit_reprocessing(spark, dims, tmp_path):
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")

    # run 1 at day 10: two knowledge messages, one plain
    rows1 = [
        _msg(8, "C1", "#KNOWLEDGE v1 of eight #END"),
        _msg(9, "C1", "#KNOWLEDGE nine #END", user="U000002"),
        _msg(10, "C1", "no tags"),
    ]
    stats = _run(spark, dims, rows1, out, state, now_days=10)
    assert stats["checkpoint_before"] == 0
    assert stats["checkpoint_after"] == 10 * DAY
    # every scanned message is reprocessed, chunks or not (msg 10)
    assert stats["n_reprocessed_keys"] == 3
    assert stats["n_chunks_in_table"] == 2
    table = spark.read.parquet(out)
    assert {r.msg_key for r in table.select("msg_key").collect()} == {
        "C1_8.000000", "C1_9.000000"
    }
    assert table.filter(F.col("msg_key") == "C1_8.000000").collect()[0].content == (
        "v1 of eight"
    )

    # run 2 at day 12: only new messages are in scope (msg 9 edited via
    # #EDIT reply -> parent re-extracted with NEW parent text version)
    rows2 = rows1 + [
        _msg(11, "C1", "#KNOWLEDGE eleven #END"),
        _msg(12, "C1", "#EDIT fix", thread=9),
    ]
    # simulate the parent having been edited in place (Slack edit)
    rows2[1] = _msg(9, "C1", "#KNOWLEDGE nine-v2 #END", user="U000002")
    stats2 = _run(spark, dims, rows2, out, state, now_days=12)
    assert stats2["checkpoint_before"] == 10 * DAY
    # fresh 11 and 12, plus the pulled-back parent 9
    assert stats2["n_reprocessed_keys"] == 3
    assert stats2["n_chunks_in_table"] == 3
    table = spark.read.parquet(out)
    got = {r.msg_key: r.content for r in table.select("msg_key", "content").collect()}
    # msg 8 untouched (old run's output preserved), 9 replaced, 11 added
    assert got == {
        "C1_8.000000": "v1 of eight",
        "C1_9.000000": "nine-v2",
        "C1_11.000000": "eleven",
    }

    # run 3 at day 16: two #EDIT replies pull parent 11 back, and a third
    # edits msg 15 of the same delta — each parent is one key, not one per
    # reply: fresh 13..16 plus parent 11
    rows3 = rows2 + [
        _msg(13, "C1", "#EDIT again", thread=11),
        _msg(14, "C1", "#EDIT and again", thread=11),
        _msg(15, "C1", "#KNOWLEDGE fifteen #END"),
        _msg(16, "C1", "#EDIT this one too", thread=15),
    ]
    stats3 = _run(spark, dims, rows3, out, state, now_days=16)
    assert stats3["n_reprocessed_keys"] == 5
    assert stats3["n_chunks_in_table"] == 4


def test_tag_removal_deletes_chunks(spark, dims, tmp_path):
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    rows1 = [_msg(8, "C1", "#KNOWLEDGE text #END"), _msg(9, "C1", "#KNOWLEDGE k9 #END")]
    stats = _run(spark, dims, rows1, out, state, now_days=10)
    assert spark.read.parquet(out).count() == 2
    assert (stats["n_reprocessed_keys"], stats["n_chunks_in_table"]) == (2, 2)

    # day 12: an #EDIT reply re-processes msg 8, whose text no longer has a
    # knowledge block -> K2 tombstone removes its chunks entirely
    rows2 = [
        _msg(8, "C1", "tag was removed"),
        _msg(9, "C1", "#KNOWLEDGE k9 #END"),
        _msg(11, "C1", "#EDIT remove it", thread=8),
    ]
    stats = _run(spark, dims, rows2, out, state, now_days=12)
    table = spark.read.parquet(out)
    assert {r.msg_key for r in table.select("msg_key").collect()} == {"C1_9.000000"}
    # reply 11 and parent 8 are both counted, though neither yields a chunk
    assert (stats["n_reprocessed_keys"], stats["n_chunks_in_table"]) == (2, 1)


def test_rerun_same_window_is_idempotent(spark, dims, tmp_path):
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    rows = [_msg(8, "C1", "#KNOWLEDGE a #END also #KNOWLEDGE b #END")]
    _run(spark, dims, rows, out, state, now_days=10)
    snap1 = sorted(map(tuple, spark.read.parquet(out).collect()))
    # same now -> ckpt advanced to 10d; re-running with now=10d again
    # processes nothing (all msgs <= ckpt) and must not change the table
    stats = _run(spark, dims, rows, out, state, now_days=10)
    snap2 = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert snap1 == snap2
    assert (stats["n_reprocessed_keys"], stats["n_chunks_in_table"]) == (0, 2)


# Spark jobs one merge-path run of the fixture below launches: 20 measured
# (local[4] and local[2]; 4 and 32 shuffle partitions) for the scope and
# key-set checkpoints, the sink's table read, chunk-batch checkpoint,
# grouped pass and write — plus one job of headroom.  Dropping the scope
# checkpoint makes it 22; re-planning the lineage per action, as the sink
# and counters once did, took 38 (8 of them for the counters).
MERGE_RUN_JOB_CEILING = 21


def test_merge_run_job_budget(spark, dims, tmp_path, monkeypatch):
    """A merge-path run evaluates each lineage once: its job count stays
    under a ceiling, and nothing after the sink — ``run.commit()`` and the
    two counters — launches a Spark job.  Jobs are split by job group: the
    sink's return switches the group, so every later job is counted against
    the counters.  (Stage names cannot tell them apart: PySpark sets a job's
    call site in only some actions, so a ``count()`` job can carry the name
    of an earlier ``collect()``.)"""
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    rows1 = [
        _msg(8, "C1", "#KNOWLEDGE v1 of eight #END"),
        _msg(9, "C1", "#KNOWLEDGE nine #END <@U000001>", user="U000002"),
        _msg(10, "C1", "no tags"),
    ]
    _run(spark, dims, rows1, out, state, now_days=10)  # first write
    rows2 = rows1 + [
        _msg(11, "C1", "#KNOWLEDGE eleven #END"),
        _msg(12, "C1", "#EDIT fix", thread=9),
    ]

    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    run_group, after_sink = f"merge-run-{tag}", f"after-sink-{tag}"
    sink = incremental.upsert_chunks

    def upsert_then_switch(*args, **kwargs):
        sink(*args, **kwargs)
        sc.setJobGroup(after_sink, "incremental run after the sink")

    monkeypatch.setattr(incremental, "upsert_chunks", upsert_then_switch)
    sc.setJobGroup(run_group, "incremental merge run")
    try:
        stats = _run(spark, dims, rows2, out, state, now_days=12)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (stats["n_reprocessed_keys"], stats["n_chunks_in_table"]) == (3, 3)

    tracker = sc.statusTracker()
    counted = tracker.getJobIdsForGroup(after_sink)
    assert counted == [], f"{len(counted)} jobs launched after the sink"
    jobs = tracker.getJobIdsForGroup(run_group)
    assert 0 < len(jobs) <= MERGE_RUN_JOB_CEILING, len(jobs)
