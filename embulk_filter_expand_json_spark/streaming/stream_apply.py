"""Structured Streaming front-end for the CDC apply stage.

The batch `CdcPipeline` replays a *bounded* change log with explicit epoch
commits. This module tails an *unbounded* change-log directory with
Structured Streaming and applies each micro-batch through the same
expand -> LWW-dedup -> SnapTable MERGE stages via ``foreachBatch``:

- **exactly-once**: Spark's checkpointed source offsets give at-least-once
  micro-batch delivery; the SnapTable's epoch-keyed commit (batch_id as the
  epoch) turns redelivery into a no-op — the standard idempotent-sink
  pattern, same protocol the batch pipeline uses.
- **late/duplicate data**: LWW dedup within the batch; cross-batch the
  MERGE is keyed by doc_id, so a late update simply upserts again (its
  log_offset ordering is preserved per batch; strictly-ordered sources —
  binlogs — deliver in order).
- ``trigger(availableNow=True)`` drains everything present and stops, which
  is also how the tests drive it deterministically.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from embulk_filter_expand_json_spark.streaming.pipeline import (
    SEQUENCES_SCHEMA,
    CdcPipeline,
)

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("log_offset", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("epoch", T.LongType()),
    ]
)


def run_streaming_apply(
    spark: SparkSession,
    changes_path: str,
    table_path: str,
    checkpoint_path: str,
    num_buckets: int = 16,
    lww_strategy: str = "agg",
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
    expectations=(),
    input_format: str = "canonical",
    envelope_text: bool = False,
    envelope_value_col: str = "value",
    maxwell_offset: str = "position",
    envelope_on_unknown: str = "error",
):
    """Tail ``changes_path`` (parquet dir) and apply micro-batches to the
    SnapTable at ``table_path``. Returns the StreamingQuery (caller awaits
    termination). Restart-safe: source offsets live in ``checkpoint_path``,
    and re-delivered batches are skipped by the epoch-keyed commit.

    ``input_format``: ``'canonical'`` tails the engine's native change
    parquet; ``'debezium'`` / ``'maxwell'`` tail a raw connector dump
    (parquet with a string column, or JSONL files with ``envelope_text``)
    and decode in-stream (sources/envelopes.py — a stateless Catalyst
    projection, so it composes with Structured Streaming untouched; the
    streaming batch_id is the epoch, same as the canonical tail)."""
    # reuse the batch pipeline's apply machinery; its own epoch loop is not
    # used — foreachBatch drives it with the streaming batch_id as epoch,
    # through the same observed single pass (drift keys, counts and
    # expectation violations ride the stage write; Observation.get
    # resolves inside foreachBatch), so each micro-batch appends the same
    # lineage line to <table>/_checkpoints/offsets.jsonl as a batch epoch
    pipe = CdcPipeline(
        spark,
        changes_path=changes_path,
        table_path=table_path,
        lww_strategy=lww_strategy,
        num_buckets=num_buckets,
        # data-quality expectations apply per micro-batch exactly as per
        # epoch (a fail-action raise fails the streaming query loudly;
        # the batch replays on restart after the producer fix)
        expectations=expectations,
    )

    if input_format == "canonical":
        reader = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .format("parquet")
        )
    elif envelope_text:
        reader = spark.readStream.format("text")
    else:
        reader = spark.readStream.schema(
            f"{envelope_value_col} string"
        ).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(changes_path)
    if input_format != "canonical":
        from embulk_filter_expand_json_spark.sources.envelopes import (
            decode_envelope,
        )

        # envelope_on_unknown matters operationally here: with the default
        # 'error', ONE unmapped op in the stream kills the query and the
        # checkpoint replays the same poison batch on every restart — pass
        # 'drop' (or 'keep') for dumps that may carry truncate/message
        # events
        stream = decode_envelope(
            stream,
            input_format,
            value_col="value" if envelope_text else envelope_value_col,
            on_unknown=envelope_on_unknown,
            maxwell_offset=maxwell_offset,
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            pipe.apply_micro_batch(batch_df, int(batch_id))
        except Exception as e:  # noqa: BLE001
            # re-raise with a bounded message: Spark's streaming error
            # classifier (StreamExecution.isInterruptionException) runs a
            # scala Regex over the exception text and stack-overflows on
            # multi-MB Py4J messages that embed full query plans
            raise RuntimeError(
                f"micro-batch {batch_id} failed: "
                f"{type(e).__name__}: {str(e)[:2000]}"
            ) from None

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
