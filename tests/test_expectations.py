"""Data-quality EXPECTATIONS on the CDC pipeline (Delta Live Tables
parity): per-epoch predicates over the LWW winners with warn / drop /
fail actions, counts riding the single-pass observation."""

import json

import pytest

from pyspark.sql import functions as F

from embulk_filter_expand_json_spark.streaming.pipeline import (
    CdcPipeline,
    ExpectationFailed,
)


def write_log(spark, path, epochs):
    """epochs: list of lists of (doc_id, n_tok, op)."""
    rows, off = [], 0
    for e, batch in enumerate(epochs):
        for doc_id, n_tok, op in batch:
            body = {"doc_id": doc_id, "source": "s"}
            if n_tok is not None:
                body.update({"tokens": list(range(n_tok)), "n_tok": n_tok})
            payload = json.dumps(body)
            rows.append((off, e, op, payload))
            off += 1
    spark.createDataFrame(
        rows, "log_offset long, epoch int, op string, payload string"
    ).coalesce(1).write.mode("overwrite").partitionBy("epoch").parquet(path)


def state(pipe):
    return {r["doc_id"]: r["n_tok"] for r in pipe.table.read().collect()}


def test_warn_counts_and_keeps_rows(spark, tmp_path):
    log = str(tmp_path / "log")
    write_log(spark, log, [
        [("a", 5, "I"), ("b", 50, "I")],
        [("a", 60, "U"), ("c", 7, "I")],
    ])
    pipe = CdcPipeline(
        spark, log, str(tmp_path / "t"), num_buckets=2,
        expectations=[("small_doc", "n_tok < 40", "warn")],
    )
    metrics = pipe.run()
    assert state(pipe) == {"a": 60, "b": 50, "c": 7}  # nothing dropped
    assert metrics[0].expectation_failures == {"small_doc": 1}  # b@50
    assert metrics[1].expectation_failures == {"small_doc": 1}  # a@60


def test_drop_rejects_bad_upserts_keeps_prior_state(spark, tmp_path):
    log = str(tmp_path / "log")
    write_log(spark, log, [
        [("a", 5, "I"), ("b", 50, "I")],          # b violates at insert
        [("a", 60, "U"), ("a", 8, "U"), ("c", 7, "I")],  # LWW winner a@8 ok
        [("c", 99, "U"), ("c", None, "D")],        # delete wins; exempt
    ])
    pipe = CdcPipeline(
        spark, log, str(tmp_path / "t"), num_buckets=2,
        expectations=[("small_doc", "n_tok < 40", "drop")],
    )
    metrics = pipe.run()
    # b's only insert was rejected -> never exists; a's winner (8) passes;
    # c deleted (deletes exempt from expectations)
    assert state(pipe) == {"a": 8}
    assert metrics[0].expectation_failures == {"small_doc": 1}
    assert metrics[1].expectation_failures == {"small_doc": 0}
    assert metrics[2].expectation_failures == {"small_doc": 0}
    # merged-upsert metric reflects the post-drop count
    assert metrics[0].upserts == 1


def test_drop_rejected_update_keeps_previous_value(spark, tmp_path):
    log = str(tmp_path / "log")
    write_log(spark, log, [
        [("a", 5, "I")],
        [("a", 500, "U")],  # bad update: rejected, prior state kept
    ])
    pipe = CdcPipeline(
        spark, log, str(tmp_path / "t"), num_buckets=2,
        expectations=[("small_doc", "n_tok < 40", "drop")],
    )
    pipe.run()
    assert state(pipe) == {"a": 5}


def test_fail_aborts_before_publish_and_is_replayable(spark, tmp_path):
    log = str(tmp_path / "log")
    write_log(spark, log, [
        [("a", 5, "I")],
        [("b", 50, "I")],
    ])
    pipe = CdcPipeline(
        spark, log, str(tmp_path / "t"), num_buckets=2,
        expectations=[("small_doc", "n_tok < 40", "fail")],
    )
    with pytest.raises(ExpectationFailed, match="small_doc"):
        pipe.run()
    # epoch 0 landed; the failing epoch 1 did not
    assert state(pipe) == {"a": 5}
    assert pipe.last_committed_epoch() == 0
    # producer "fixes" the data -> the same pipeline replays exactly-once
    write_log(spark, log, [
        [("a", 5, "I")],
        [("b", 30, "I")],
    ])
    pipe2 = CdcPipeline(
        spark, log, str(tmp_path / "t"), num_buckets=2,
        expectations=[("small_doc", "n_tok < 40", "fail")],
    )
    metrics = pipe2.run()
    assert [m.epoch for m in metrics if not m.skipped] == [1]
    assert state(pipe2) == {"a": 5, "b": 30}


def lineage(table_path):
    with open(f"{table_path}/_checkpoints/offsets.jsonl") as f:
        return [json.loads(line) for line in f]


def test_streaming_expectation_counts_in_lineage(spark, tmp_path):
    """Under foreachBatch the micro-batch takes the same observed single
    pass as a batch epoch: the same drop counts reach the lineage log, and
    a fail-action violation fails the query before anything publishes."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable
    from embulk_filter_expand_json_spark.streaming.stream_apply import (
        run_streaming_apply,
    )

    log = str(tmp_path / "log")
    write_log(spark, log, [
        [("a", 5, "I"), ("b", 50, "I"), ("c", 45, "I")],
    ])
    t = str(tmp_path / "t")
    q = run_streaming_apply(
        spark, changes_path=log, table_path=t,
        checkpoint_path=str(tmp_path / "ckpt"), num_buckets=2,
        expectations=[("small_doc", "n_tok < 40", "drop")],
    )
    assert q.awaitTermination(120)
    got = {r["doc_id"]: r["n_tok"] for r in SnapTable(spark, t).read().collect()}
    assert got == {"a": 5}
    (line,) = lineage(t)
    assert line["expectation_failures"] == {"small_doc": 2}

    t2 = str(tmp_path / "t2")
    q = run_streaming_apply(
        spark, changes_path=log, table_path=t2,
        checkpoint_path=str(tmp_path / "ckpt2"), num_buckets=2,
        expectations=[("small_doc", "n_tok < 40", "fail")],
    )
    with pytest.raises(StreamingQueryException, match="small_doc"):
        q.awaitTermination(120)
    assert not SnapTable(spark, t2).read().count()


def test_streaming_lineage_counts_and_drift(spark, tmp_path):
    """Each micro-batch's lineage line carries its observed counts and its
    merge phases, and a batch with a new payload key records the evolved
    column (the drift abort, evolve and redo run inside foreachBatch)."""
    from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable
    from embulk_filter_expand_json_spark.streaming.stream_apply import (
        run_streaming_apply,
    )

    log = str(tmp_path / "log")
    rows = [
        (0, 0, "I", json.dumps({"doc_id": "a", "tokens": [1], "n_tok": 1,
                                "source": "s"})),
        (1, 0, "I", json.dumps({"doc_id": "b", "tokens": [1], "n_tok": 1,
                                "source": "s"})),
        (2, 1, "U", json.dumps({"doc_id": "a", "tokens": [1, 2], "n_tok": 2,
                                "source": "s", "lang": "en"})),
        (3, 1, "I", json.dumps({"doc_id": "c", "tokens": [1], "n_tok": 1,
                                "source": "s"})),
        (4, 1, "D", json.dumps({"doc_id": "b"})),
    ]
    spark.createDataFrame(
        rows, "log_offset long, epoch int, op string, payload string"
    ).coalesce(1).write.partitionBy("epoch").parquet(log)
    t = str(tmp_path / "t")
    q = run_streaming_apply(
        spark, changes_path=log, table_path=t,
        checkpoint_path=str(tmp_path / "ckpt"), num_buckets=2,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    lines = lineage(t)
    assert len(lines) == 2
    assert sum(line["rows_in"] for line in lines) == len(rows)
    assert [line["evolved_columns"] for line in lines
            if line["evolved_columns"]] == [["lang"]]
    for line in lines:
        assert {"stage_sec", "publish_sec"} <= set(line["phases"])
    got = {r["doc_id"]: r["lang"] for r in SnapTable(spark, t).read().collect()}
    assert got == {"a": "en", "c": None}


def test_expectation_validation(spark, tmp_path):
    log = str(tmp_path / "log")
    write_log(spark, log, [[("a", 5, "I")]])
    with pytest.raises(ValueError, match="warn|drop|fail"):
        CdcPipeline(spark, log, str(tmp_path / "t"),
                    expectations=[("x", "1=1", "explode")])
    with pytest.raises(ValueError, match="duplicate"):
        CdcPipeline(spark, log, str(tmp_path / "t"),
                    expectations=[("x", "1=1", "warn"),
                                  ("x", "2=2", "drop")])


def test_null_predicate_is_violation(spark, tmp_path):
    """A NULL-valued predicate (e.g. a NULL column) counts as a violation —
    expectations assert truth, SQL's NULL is not true."""
    log = str(tmp_path / "log")
    # craft a payload with no n_tok at all -> typed n_tok NULL
    rows = [(0, 0, "I", json.dumps({"doc_id": "a", "tokens": [1],
                                    "source": "s"}))]
    spark.createDataFrame(
        rows, "log_offset long, epoch int, op string, payload string"
    ).write.mode("overwrite").partitionBy("epoch").parquet(log)
    pipe = CdcPipeline(
        spark, log, str(tmp_path / "t"), num_buckets=2,
        expectations=[("has_tok", "n_tok < 40", "drop")],
    )
    metrics = pipe.run()
    assert pipe.table.read().count() == 0
    assert metrics[0].expectation_failures == {"has_tok": 1}


def test_streaming_apply_honors_expectations(spark, tmp_path):
    """The Structured Streaming front-end applies the same drop algebra
    per micro-batch. Expectations gate each batch's LWW WINNERS, so the
    result depends on batch boundaries by design (a bad later update in
    the same batch shadows a good earlier insert); one file per trigger
    aligns micro-batches with the batch pipeline's epochs, and then the
    two front-ends must agree exactly."""
    from embulk_filter_expand_json_spark.streaming.stream_apply import (
        run_streaming_apply,
    )

    log = str(tmp_path / "log")
    write_log(spark, log, [
        [("a", 5, "I"), ("b", 50, "I")],
        [("a", 500, "U"), ("c", 7, "I")],
    ])
    exps = [("small_doc", "n_tok < 40", "drop")]
    q = run_streaming_apply(
        spark,
        changes_path=log,
        table_path=str(tmp_path / "stream_t"),
        checkpoint_path=str(tmp_path / "ckpt"),
        num_buckets=2,
        expectations=exps,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)

    batch = CdcPipeline(
        spark, log, str(tmp_path / "batch_t"), num_buckets=2,
        expectations=exps,
    )
    batch.run()
    from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable

    got = {
        r["doc_id"]: r["n_tok"]
        for r in SnapTable(spark, str(tmp_path / "stream_t")).read().collect()
    }
    assert got == state(batch)
    assert got == {"a": 5, "c": 7}  # b@50 and a@500 rejected
