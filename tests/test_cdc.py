"""CDC engine-layer tests (north_rule): LWW dedup strategies, exactly-once
MERGE, resume-from-checkpoint, additive schema evolution, and full-replay
token-array-equality parity against the pure-Python oracle."""

import json
import os

import pytest

from pyspark.sql import functions as F, types as T

from embulk_filter_expand_json_spark.operators.dedup_lww import lww_dedup
from embulk_filter_expand_json_spark.reference_oracle import replay
from embulk_filter_expand_json_spark.sources.changegen import (
    ChangeGenConfig,
    generate_changes,
    write_changes,
)
from embulk_filter_expand_json_spark.streaming.pipeline import (
    SEQUENCES_SCHEMA,
    CdcPipeline,
)
from embulk_filter_expand_json_spark.streaming.snaptable import (
    CommitConflict,
    SnapTable,
)

CFG = ChangeGenConfig(
    n_events=3_000, n_docs=150, batch_size=500, seed=7, p_extra_key=0.15
)


@pytest.fixture(scope="module")
def changes_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("changes") / "log")
    write_changes(spark, CFG, path)
    return path


def table_state(table: SnapTable) -> dict:
    rows = table.read().collect()
    return {
        r["doc_id"]: {
            "tokens": list(r["tokens"]) if r["tokens"] is not None else None,
            "n_tok": r["n_tok"],
            "source": r["source"],
            **{
                k: r[k]
                for k in r.asDict()
                if k not in ("doc_id", "tokens", "n_tok", "source")
            },
        }
        for r in rows
    }


# ---------------------------------------------------------------- changegen

def test_changegen_deterministic_and_shaped(spark):
    a = generate_changes(spark, CFG).orderBy("log_offset").limit(50).collect()
    b = generate_changes(spark, CFG).orderBy("log_offset").limit(50).collect()
    assert a == b
    assert [r["log_offset"] for r in a] == list(range(50))
    ops = {r["op"] for r in a}
    assert ops <= {"I", "U", "D"}
    payload = json.loads(a[0]["payload"])
    assert set(payload) >= {"doc_id"}


def test_changegen_has_skew_and_corruption(spark):
    df = generate_changes(spark, CFG)
    n_bad = df.filter(F.try_parse_json("payload").isNull()).count()
    assert n_bad > 0  # malformed docs present
    n_badtype = df.filter(F.col("payload").contains('"tokens":"oops"')).count()
    assert n_badtype > 0
    # skew: top doc gets far more than the mean share of events
    top = (
        df.select(F.get_json_object("payload", "$.doc_id").alias("d"))
        .filter(F.col("d").isNotNull())
        .groupBy("d")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert top["count"] > 5 * (CFG.n_events / CFG.n_docs)


# --------------------------------------------------------------------- LWW

def test_lww_strategies_agree(spark, changes_path):
    df = (
        spark.read.parquet(changes_path)
        .withColumn("doc_id", F.get_json_object("payload", "$.doc_id"))
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "log_offset", "op")
    )
    results = {
        s: sorted(
            (r["doc_id"], r["log_offset"], r["op"])
            for r in lww_dedup(df, strategy=s).collect()
        )
        for s in ("agg", "window", "salted", "keyjoin")
    }
    assert (
        results["agg"] == results["window"] == results["salted"]
        == results["keyjoin"]
    )
    # each key appears exactly once and carries its max offset
    by_key = {}
    for r in df.collect():
        k = r["doc_id"]
        if k not in by_key or r["log_offset"] > by_key[k]:
            by_key[k] = r["log_offset"]
    assert {(d, o) for d, o, _ in results["agg"]} == set(by_key.items())


# --------------------------------------------------------------- SnapTable

def make_table(spark, tmp_path, name="t", buckets=4) -> SnapTable:
    t = SnapTable(spark, str(tmp_path / name))
    t.create(SEQUENCES_SCHEMA, key="doc_id", num_buckets=buckets)
    return t


def delta_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, is_del boolean"
    )


def test_merge_upsert_delete(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.merge(
        delta_df(spark, [("a", [1, 2], 2, "s0", False), ("b", [3], 1, "s1", False)]),
        epoch=0,
        delete_col="is_del",
    )
    assert table_state(t) == {
        "a": {"tokens": [1, 2], "n_tok": 2, "source": "s0"},
        "b": {"tokens": [3], "n_tok": 1, "source": "s1"},
    }
    # update a, delete b, insert c
    t.merge(
        delta_df(
            spark,
            [
                ("a", [9], 1, "s0", False),
                ("b", None, None, None, True),
                ("c", [7, 7], 2, "s2", False),
            ],
        ),
        epoch=1,
        delete_col="is_del",
    )
    assert table_state(t) == {
        "a": {"tokens": [9], "n_tok": 1, "source": "s0"},
        "c": {"tokens": [7, 7], "n_tok": 2, "source": "s2"},
    }


def test_merge_exactly_once_reapply(spark, tmp_path):
    t = make_table(spark, tmp_path)
    d0 = delta_df(spark, [("a", [1], 1, "s", False)])
    r0 = t.merge(d0, epoch=0, delete_col="is_del")
    assert not r0["skipped"]
    before = table_state(t)
    version_before = t.manifest()["version"]
    # replaying the same epoch (e.g. after a driver restart) is a no-op
    r1 = t.merge(delta_df(spark, [("a", [999], 1, "s", False)]), epoch=0, delete_col="is_del")
    assert r1["skipped"]
    assert table_state(t) == before
    assert t.manifest()["version"] == version_before


def test_merge_only_touched_buckets_rewritten(spark, tmp_path):
    t = make_table(spark, tmp_path, buckets=8)
    rows = [(f"k{i}", [i], 1, "s", False) for i in range(64)]
    t.merge(delta_df(spark, rows), epoch=0, delete_col="is_del")
    files_before = {f["path"]: f["bucket"] for f in t.manifest()["files"]}
    r = t.merge(delta_df(spark, [("k1", [99], 1, "s", False)]), epoch=1, delete_col="is_del")
    assert r["buckets_touched"] == 1
    files_after = {f["path"]: f["bucket"] for f in t.manifest()["files"]}
    carried = set(files_before) & set(files_after)
    new_bucket = [b for p, b in files_after.items() if p not in files_before][0]
    # every file from an untouched bucket carried over verbatim
    assert all(files_before[p] != new_bucket for p in carried)
    assert len(carried) == len([b for b in files_before.values() if b != new_bucket])


def test_schema_evolution_additive(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.merge(delta_df(spark, [("a", [1], 1, "s", False)]), epoch=0, delete_col="is_del")
    assert t.evolve_add_columns([T.StructField("lang", T.StringType(), True)])
    assert not t.evolve_add_columns([T.StructField("lang", T.StringType(), True)])
    # old rows read back with null lang; new rows carry it
    d = spark.createDataFrame(
        [("b", [2], 1, "s", False, "en")],
        "doc_id string, tokens array<int>, n_tok int, source string, is_del boolean, lang string",
    )
    t.merge(d, epoch=1, delete_col="is_del")
    got = {r["doc_id"]: r["lang"] for r in t.read().collect()}
    assert got == {"a": None, "b": "en"}


def test_create_conflict_and_single_writer(spark, tmp_path):
    t = make_table(spark, tmp_path)
    with pytest.raises(CommitConflict):
        t.create(SEQUENCES_SCHEMA, key="doc_id")


# ---------------------------------------------------------------- pipeline

def oracle_state(spark, changes_path, extra_keys=("lang",)):
    events = [
        (r["log_offset"], r["op"], r["payload"])
        for r in spark.read.parquet(changes_path).collect()
    ]
    return replay(events, extra_keys=extra_keys)


def test_full_replay_token_array_equality(spark, tmp_path, changes_path):
    pipe = CdcPipeline(
        spark, changes_path, str(tmp_path / "tbl"), num_buckets=4
    )
    metrics = pipe.run()
    assert len(metrics) == CFG.n_events // CFG.batch_size
    assert all(not m.skipped for m in metrics)
    assert any(m.invalid > 0 for m in metrics)
    assert any(m.evolved_columns for m in metrics)

    got = table_state(pipe.table)
    want = oracle_state(spark, changes_path)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id]["tokens"] == want[doc_id]["tokens"], doc_id
        assert got[doc_id]["n_tok"] == want[doc_id]["n_tok"], doc_id
        assert got[doc_id]["source"] == want[doc_id]["source"], doc_id
        assert got[doc_id].get("lang") == want[doc_id].get("lang"), doc_id


def test_resume_from_checkpoint(spark, tmp_path, changes_path):
    # run 2 epochs, "crash", resume with a brand-new pipeline object
    p1 = CdcPipeline(spark, changes_path, str(tmp_path / "tbl2"), num_buckets=4)
    p1.run(max_epochs=2)
    assert p1.last_committed_epoch() == 1

    p2 = CdcPipeline(spark, changes_path, str(tmp_path / "tbl2"), num_buckets=4)
    metrics = p2.run()
    assert [m.epoch for m in metrics] == list(
        range(2, CFG.n_events // CFG.batch_size)
    )
    assert table_state(p2.table) == oracle_state(spark, changes_path)
    # lineage log covers every epoch, each with its merge's phase times
    with open(p2.offsets_log) as f:
        lines = [json.loads(line) for line in f]
    assert {l["epoch"] for l in lines} == set(range(CFG.n_events // CFG.batch_size))
    for l in lines:
        if not l["skipped"]:
            assert {"stage_sec", "publish_sec"} <= set(l["phases"]), l


def test_lineage_records_staged_and_rewritten_bytes(
    spark, tmp_path, changes_path
):
    """Each committed lineage line says what its commit wrote: bytes_staged
    is the commit's change set (its change-feed entry's file bytes, the
    drift redo's and not the aborted attempt's), bytes_rewritten is 0 on
    the first load (fresh buckets register their staged files) and > 0
    once the next epoch rewrites existing buckets."""
    pipe = CdcPipeline(
        spark, changes_path, str(tmp_path / "t"), num_buckets=4, changelog=True
    )
    pipe.run(max_epochs=3)
    with open(pipe.offsets_log) as f:
        lines = [json.loads(line) for line in f]
    assert [l["epoch"] for l in lines] == [0, 1, 2]
    assert not any(l["skipped"] for l in lines)
    assert any(l["evolved_columns"] for l in lines)  # a drift redo ran
    change_bytes = {
        c["epoch"]: sum(f["bytes"] for f in c["files"])
        for c in pipe.table.manifest()["changes"]
    }
    for l in lines:
        assert l["bytes_staged"] == change_bytes[l["epoch"]] > 0, l
        assert l["files_written"] > 0, l
    assert lines[0]["bytes_rewritten"] == 0
    assert all(l["bytes_rewritten"] > 0 for l in lines[1:]), lines


def test_replay_idempotent_epoch_skip(spark, tmp_path, changes_path):
    p = CdcPipeline(spark, changes_path, str(tmp_path / "tbl3"), num_buckets=4)
    p.run(max_epochs=1)
    m = p.apply_epoch(0)
    assert m.skipped


@pytest.mark.parametrize("strategy", ["window", "salted", "agg"])
def test_pipeline_all_lww_strategies_match_oracle(
    spark, tmp_path, changes_path, strategy
):
    p = CdcPipeline(
        spark,
        changes_path,
        str(tmp_path / f"tbl_{strategy}"),
        num_buckets=4,
        lww_strategy=strategy,
    )
    p.run(max_epochs=3)
    # partial replay: oracle over the same offset range
    sub = spark.read.parquet(changes_path).filter(F.col("epoch") < 3)
    events = [(r["log_offset"], r["op"], r["payload"]) for r in sub.collect()]
    want = replay(events, extra_keys=("lang",))
    got = table_state(p.table)
    assert set(got) == set(want)
    for d in want:
        assert got[d]["tokens"] == want[d]["tokens"]


def test_epoch_job_counts(spark, tmp_path):
    """The staged-delta MERGE folds every per-epoch side-scan into the write:
    an epoch over fresh buckets commits in ONE Spark job (the stage write,
    carrying all observe aggregates); an epoch rewriting existing buckets
    adds the CoW rewrite (plus its broadcast-relation build). No pre-count,
    no key-scan, no checkpoint, no schema-inference jobs.

    AQE is disabled for the measurement: it splits one action into one job
    per materialized query stage, which would obscure the action count
    (production behavior is unchanged — AQE only re-plans, it adds no
    scans)."""
    path = str(tmp_path / "log")
    write_changes(
        spark,
        ChangeGenConfig(
            n_events=1_000, n_docs=40, batch_size=500, seed=11, p_extra_key=0.0
        ),
        path,
    )
    pipe = CdcPipeline(spark, path, str(tmp_path / "table"), num_buckets=4)
    sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    pipe.available_epochs()  # warm the once-per-pipeline log schema inference
    try:
        sc.setJobGroup("epoch0", "first load")
        m0 = pipe.apply_epoch(0)
        n0 = len(sc.statusTracker().getJobIdsForGroup("epoch0"))
        sc.setJobGroup("epoch1", "rewrite")
        m1 = pipe.apply_epoch(1)
        n1 = len(sc.statusTracker().getJobIdsForGroup("epoch1"))
    finally:
        sc.setJobGroup("done", "done")
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    assert not m0.skipped and not m1.skipped
    assert m0.rows_in == 500 and m1.rows_in == 500
    # epoch 0: empty table -> every touched bucket is fresh -> stage job only
    assert n0 == 1, f"expected 1 job for the first-load epoch, got {n0}"
    # epoch 1: with 40 hot docs over 4 buckets every bucket has files ->
    # stage write + rewrite write + the rewrite's broadcast-key build
    assert n1 <= 3, f"expected <=3 jobs for a rewrite epoch, got {n1}"


def test_empty_micro_batch_commits_with_zero_counts(
    spark, tmp_path, changes_path
):
    """foreachBatch can hand the pipeline an empty batch. The observed
    single pass commits its epoch with zero counts whether the batch is an
    empty local relation, a partition-pruned scan or a filter(false)."""
    pipe = CdcPipeline(spark, changes_path, str(tmp_path / "t"), num_buckets=4)
    log = spark.read.parquet(changes_path)
    empties = [
        spark.createDataFrame([], log.schema),
        log.filter(F.col("epoch") == 10**6),
        log.filter(F.lit(False)),
    ]
    for epoch, batch in enumerate(empties):
        m = pipe.apply_micro_batch(batch, epoch)
        assert not m.skipped
        assert (m.rows_in, m.invalid, m.upserts, m.deletes) == (0, 0, 0, 0)
    assert pipe.last_committed_epoch() == len(empties) - 1
    assert pipe.table.read().count() == 0


def test_full_replay_parity_with_mor_deferral(spark, tmp_path, changes_path):
    """Token-array parity vs the pure-Python oracle with merge-on-read
    deferral FORCED on (high rewrite ratio): epochs land as delta files,
    readers resolve base+deltas by seq, schema evolution null-fills through
    delta files — final state must still match the interpreter exactly."""
    pipe = CdcPipeline(
        spark,
        changes_path,
        str(tmp_path / "tblmor"),
        num_buckets=4,
        mor_rewrite_ratio=1e9,          # never rewrite by bytes
        max_delta_files_per_bucket=64,  # never force-compact at this scale
        min_mor_base_bytes=0,           # disable the small-base CoW floor
    )
    metrics = pipe.run()
    assert all(not m.skipped for m in metrics)
    # deferral actually happened (fresh first epoch aside)
    man = pipe.table.manifest()
    assert any(f.get("kind") == "delta" for f in man["files"])

    got = table_state(pipe.table)
    want = oracle_state(spark, changes_path)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id]["tokens"] == want[doc_id]["tokens"], doc_id
        assert got[doc_id].get("lang") == want[doc_id].get("lang"), doc_id

    # compaction folds the stack and preserves the state byte-for-byte
    pipe.table.compact()
    assert not any(
        f.get("kind") == "delta" for f in pipe.table.manifest()["files"]
    )
    assert table_state(pipe.table) == got


def test_expected_columns_skip_drift_redo(spark, tmp_path):
    """Declaring known payload columns upfront (the Schema Registry
    pattern) must yield the identical final state as dynamic discovery,
    with no evolve-abort on any epoch (evolved_columns stays empty)."""
    path = str(tmp_path / "log")
    write_changes(
        spark,
        ChangeGenConfig(
            n_events=2_000, n_docs=60, batch_size=500, seed=5, p_extra_key=0.3
        ),
        path,
    )
    dyn = CdcPipeline(spark, path, str(tmp_path / "t_dyn"), num_buckets=4)
    m_dyn = dyn.run()
    evolved = sorted({c for m in m_dyn for c in m.evolved_columns})
    assert evolved, "fixture must actually drift"

    dec = CdcPipeline(
        spark,
        path,
        str(tmp_path / "t_dec"),
        num_buckets=4,
        expected_columns=evolved,
    )
    m_dec = dec.run()
    assert all(not m.evolved_columns for m in m_dec)  # no abort/redo ran
    assert set(dec.table.schema().fieldNames()) == set(
        dyn.table.schema().fieldNames()
    )

    def state(t):
        cols = sorted(t.schema().fieldNames())
        return sorted(map(repr, t.read().select(*cols).collect()))

    assert state(dec.table) == state(dyn.table)


def test_drift_abort_cleans_up_on_a_uri_table(spark, tmp_path):
    """The drift detour discards its first stage write through the table's
    filesystem layer, so a table addressed by URI is left with no orphaned
    commit directory, as a plain-path table is."""
    path = str(tmp_path / "log")
    write_changes(
        spark,
        ChangeGenConfig(
            n_events=500, n_docs=40, batch_size=500, seed=11, p_extra_key=0.5
        ),
        path,
    )
    root = tmp_path / "table"
    pipe = CdcPipeline(spark, path, f"file://{root}", num_buckets=4)
    m = pipe.apply_epoch(0)
    assert m.evolved_columns == ["lang"]
    # the aborted attempt never reached its phase split; the redo's is kept
    assert {"stage_sec", "publish_sec"} <= set(m.phases)
    referenced = {f["path"].split("/")[1] for f in pipe.table.manifest()["files"]}
    on_disk = set(os.listdir(root / "data"))
    assert on_disk == referenced
