"""Incremental extraction run (SURVEY.md §3 E1 as one batch DAG).

Mirrors the reference's ``main`` -> ``process_channel`` lifecycle
(KnowledgeBot.py:668-705, 425-534) with M2 semantics:

  * pre-scan checkpoint stamp (K5, KnowledgeBot.py:110);
  * freshness F1 (strict >) within lookback F2 (>= ckpt - 7d);
  * every processed message's key is tombstoned before append — including
    messages whose new text has no ``#KNOWLEDGE`` block (K2 tag-removal,
    KnowledgeBot.py:483-485);
  * ``#EDIT`` thread replies re-extract their *parent* message (the
    intended semantics of the reference's broken ``_process_message``,
    SURVEY.md §2.2) — parents re-enter the spine and their keys tombstone;
  * chunks land in a (channel_name, msg_date)-partitioned parquet table.

A run materializes twice before the sink, each with an eager
``localCheckpoint`` that cuts the lineage: the in-scope messages (fresh
plus pulled-back parents), which both the chunk batch and the key set read,
and the reprocessed-key set, whose size an ``Observation`` records in the
same job.  The sink then materializes the chunk batch once and makes one
grouped pass over the existing table (sinks/keyed_parquet.py).  The
counters cost no Spark job: the key count comes from that observation and
the table size from the parquet footers.

Cutting the lineage is safe: a checkpoint block lost with an executor
fails the run before ``run.commit()``, so the checkpoint does not advance
and the next run redoes the same window — the keyed sink makes the redo
idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from knowledgebot_spark.operators import edits as ed
from knowledgebot_spark.operators import extraction as ex
from knowledgebot_spark.sinks.checkpoint import IncrementalRun
from knowledgebot_spark.sinks.keyed_parquet import table_row_count, upsert_chunks


def run_extraction(
    spark: SparkSession,
    msgs: DataFrame,
    users: DataFrame,
    channels: DataFrame,
    members: DataFrame,
    output_path: str,
    state_path: str,
    now_micros: int,
    lookback_days: int = 7,
) -> dict:
    """One incremental run; returns A3-style counters."""
    run = IncrementalRun(state_path, now_micros)
    ckpt = run.checkpoint_micros

    keyed = ex.with_msg_key(msgs)
    fresh = ex.filter_fresh(keyed, ckpt, lookback_days)

    # #EDIT replies pull their parents back into scope even when the parent
    # itself is older than the checkpoint (J5 on the full keyed scan).
    edit_parents = ex.with_msg_key(
        ed.join_parents(ed.edit_replies(fresh), keyed).drop(
            "edit_ts_raw", "parent_ts_micros"
        )
    )
    scope = (
        fresh.unionByName(edit_parents.select(fresh.columns))
        .dropDuplicates(["msg_key"])
        .localCheckpoint()
    )

    chunks = ex.build_knowledge_chunks(
        scope, users, channels, members, ckpt_micros=None
    )
    # K2: every in-scope message key is reprocessed — deletes run even for
    # messages that no longer (or never) contain a knowledge block.  The
    # channel filter (F6) must apply to the tombstone set too, so that keys
    # map to real partitions; as a semi join it keeps scope's one row per
    # key, so the set needs no distinct (and no shuffle).
    n_keys = Observation("reprocessed_keys")
    reprocessed = (
        scope.join(F.broadcast(channels.select("channel_id")), "channel_id", "left_semi")
        .select("msg_key")
        .observe(n_keys, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )

    upsert_chunks(spark, output_path, chunks, reprocessed_keys=reprocessed)
    run.commit()

    return {
        "checkpoint_before": ckpt,
        "checkpoint_after": run.start_micros,
        "n_reprocessed_keys": n_keys.get["n"],
        "n_chunks_in_table": table_row_count(output_path),
    }


def read_chunk_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def chunks_for_message(spark: SparkSession, path: str, msg_key: str) -> DataFrame:
    """Rows of one message: a full-table scan with the ``msg_key`` filter
    pushed down to parquet.  ``msg_key`` is not a partition column, so no
    partition is pruned; only row groups whose min/max statistics exclude
    the key are skipped."""
    return spark.read.parquet(path).filter(F.col("msg_key") == msg_key)
