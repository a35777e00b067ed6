"""Round-3 SnapTable hardening: snapshot/orphan GC, bucket-scoped MoR read
resolution (clean buckets never shuffled), the min_mor_base_bytes CoW floor,
and NULL delete-flag coalescing (ADVICE r2)."""

import os

import pytest

from pyspark.sql import functions as F

from embulk_filter_expand_json_spark.streaming.pipeline import SEQUENCES_SCHEMA
from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable


def delta(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, is_del boolean",
    )


def make_table(spark, path, buckets=4, properties=None):
    t = SnapTable(spark, str(path))
    t.create(SEQUENCES_SCHEMA, key="doc_id", num_buckets=buckets,
             properties=properties)
    return t


def data_files_on_disk(t: SnapTable):
    out = []
    for root, _dirs, names in os.walk(t.data_dir):
        out.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    return out


# ------------------------------------------------------------------ GC

def test_expire_snapshots_bounds_disk(spark, tmp_path):
    """K epochs of rewrites + an aborted commit: expire + orphan sweep keeps
    on-disk file count bounded by the retained manifests, while time travel
    to retained versions still works and expired versions raise."""
    t = make_table(spark, tmp_path / "t", buckets=2)
    for e in range(5):
        t.merge(
            delta(spark, [(f"k{i}", [e], 1, "s", False) for i in range(16)]),
            epoch=e,
            delete_col="is_del",
        )
    # an aborted attempt leaves orphaned staged files by design
    r = t.merge(
        delta(spark, [("k0", [99], 1, "s", False)]),
        epoch=5,
        delete_col="is_del",
        pre_commit=lambda: False,
    )
    assert r["aborted"]
    n_disk_before = len(data_files_on_disk(t))
    retained_versions = t._versions()[-2:]
    state_before = sorted(
        (r["doc_id"], r["tokens"]) for r in t.read().collect()
    )

    res = t.expire_snapshots(keep_last=2)
    assert res["files_removed"] > 0
    orph = t.remove_orphans(older_than_sec=0.0)
    assert orph["files_removed"] > 0  # the aborted stage files

    # every file on disk is referenced by a retained manifest — nothing else
    referenced = set()
    for v in t._versions():
        referenced.update(
            os.path.join(t.path, f["path"]) for f in t.manifest(v)["files"]
        )
    on_disk = set(data_files_on_disk(t))
    assert on_disk == referenced
    assert len(on_disk) < n_disk_before

    # current state unchanged; retained time travel works; expired raises
    assert sorted(
        (r["doc_id"], r["tokens"]) for r in t.read().collect()
    ) == state_before
    assert t.read(version=retained_versions[0]).count() == 16
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    # the table keeps working after GC
    t.merge(delta(spark, [("k0", [100], 1, "s", False)]), epoch=6,
            delete_col="is_del")
    assert t.read().filter("doc_id = 'k0'").first()["tokens"] == [100]


def test_remove_orphans_spares_young_files(spark, tmp_path):
    t = make_table(spark, tmp_path / "t")
    t.merge(delta(spark, [("a", [1], 1, "s", False)]), epoch=0,
            delete_col="is_del")
    t.merge(
        delta(spark, [("a", [2], 1, "s", False)]),
        epoch=1,
        delete_col="is_del",
        pre_commit=lambda: False,
    )
    before = len(data_files_on_disk(t))
    # default 1h age guard: freshly-written orphans of an in-flight commit
    # must survive the sweep
    assert t.remove_orphans()["files_removed"] == 0
    assert len(data_files_on_disk(t)) == before
    assert t.remove_orphans(older_than_sec=0.0)["files_removed"] > 0


# --------------------------------------------- bucket-scoped MoR read

def test_mor_read_never_shuffles_base_rows(spark, tmp_path):
    """With a broadcastable delta stack (the manifest records exact delta
    bytes), the read plan must contain NO hash-partitioning exchange at all:
    clean buckets pass through, dirty buckets resolve via a broadcast
    anti-join of the delta winner keys (VERDICT r2 #1, strengthened)."""
    t = make_table(
        spark,
        tmp_path / "t",
        buckets=4,
        properties={"mor_rewrite_ratio": 0.99, "min_mor_base_bytes": 0},
    )
    rows = [(f"doc-{i:04d}", [i], 1, "s", False) for i in range(400)]
    t.merge(delta(spark, rows), epoch=0, delete_col="is_del")
    # one-key delta -> exactly one dirty bucket, three clean ones
    t.merge(delta(spark, [("doc-0000", [42], 1, "s", False)]), epoch=1,
            delete_col="is_del")
    man = t.manifest()
    dirty = {f["bucket"] for f in man["files"] if f.get("kind") == "delta"}
    assert len(dirty) == 1

    df = t.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan  # zero base-row shuffle
    # correctness of the merged state
    state = {r["doc_id"]: r["tokens"] for r in df.collect()}
    assert state["doc-0000"] == [42]
    assert len(state) == 400


def test_mor_read_window_fallback_when_stack_too_big(spark, tmp_path):
    """mor_read_broadcast_bytes=0 forces the big-stack fallback: the window
    merge runs over the DIRTY buckets only; the clean buckets' scan still
    unions in above the window with no exchange over it."""
    t = make_table(
        spark,
        tmp_path / "t",
        buckets=4,
        properties={"mor_rewrite_ratio": 0.99, "min_mor_base_bytes": 0,
                    "mor_read_broadcast_bytes": 0},
    )
    rows = [(f"doc-{i:04d}", [i], 1, "s", False) for i in range(400)]
    t.merge(delta(spark, rows), epoch=0, delete_col="is_del")
    t.merge(delta(spark, [("doc-0000", [42], 1, "s", False),
                          ("doc-0001", None, None, None, True)]),
            epoch=1, delete_col="is_del")
    # a second stacked delta exercises the multi-seq window resolve
    t.merge(delta(spark, [("doc-0000", [43], 1, "s", False)]), epoch=2,
            delete_col="is_del")

    df = t.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    clean_branch = plan.split("Window")[0]
    assert "Scan parquet" in clean_branch
    assert "Exchange" not in clean_branch
    state = {r["doc_id"]: r["tokens"] for r in df.collect()}
    assert state["doc-0000"] == [43]
    assert "doc-0001" not in state
    assert len(state) == 399


def test_rewrite_window_fallback_matches_lww_model(spark, tmp_path):
    """mor_read_broadcast_bytes=0 also governs merge's rewrite, which
    resolves through the same code as a read: a bucket whose stack of two
    deferred epochs is folded by a third resolves by the window over base
    and deltas. A delete, a delete then re-upsert and a NULL key must come
    out as a last-writer-wins model says, with no delta entry left."""
    t = make_table(
        spark,
        tmp_path / "t",
        buckets=1,
        properties={"mor_rewrite_ratio": 1e9, "min_mor_base_bytes": 0,
                    "mor_read_broadcast_bytes": 0,
                    # room for two deferred epochs (the first stages an
                    # upsert and a delete file), not for a third
                    "max_delta_files_per_bucket": 3},
    )
    keys = [f"k{i}" for i in range(8)] + [None]
    epochs = [
        {k: [0] for k in keys},                       # first load
        {k: None for k in keys[0:4]}                  # deletes ...
        | {k: [1] for k in keys[4:]},                 # ... and upserts
        {k: [2] for k in keys[0:2]},                  # re-upsert after delete
        {k: [3] for k in keys[2:3] + keys[5:]}        # forces the rewrite
        | {keys[4]: None},
    ]
    model: dict = {}
    for e, changes in enumerate(epochs):
        rows = [(k, v, None if v is None else 1, "s", v is None)
                for k, v in changes.items()]
        r = t.merge(delta(spark, rows), epoch=e, delete_col="is_del")
        for k, v in changes.items():
            if v is None:
                model.pop(k, None)
            else:
                model[k] = v
        assert {x["doc_id"]: x["tokens"] for x in t.read().collect()} == model
        if e in (1, 2):
            assert r["buckets_deferred"] == 1 and r["files_rewritten"] == 0
    assert r["buckets_deferred"] == 0 and r["files_rewritten"] > 0
    assert not [f for f in t.manifest()["files"] if f.get("kind") == "delta"]


def test_cow_floor_forces_rewrite_below_min_base_bytes(spark, tmp_path):
    """Below min_mor_base_bytes every epoch takes the plain CoW path — no
    delta entries ever registered (VERDICT r2 #2: deferral thrash at toy
    scale)."""
    t = make_table(
        spark,
        tmp_path / "t",
        properties={"mor_rewrite_ratio": 1e9,  # ratio alone would ALWAYS defer
                    "min_mor_base_bytes": 1 << 40},
    )
    for e in range(3):
        t.merge(
            delta(spark, [(f"k{i}", [e], 1, "s", False) for i in range(12)]),
            epoch=e,
            delete_col="is_del",
        )
    assert not any(f.get("kind") == "delta" for f in t.manifest()["files"])
    assert {r["tokens"][0] for r in t.read().collect()} == {2}


# ------------------------------------------------- NULL delete flags

def test_null_delete_flag_coalesces_to_upsert(spark, tmp_path):
    """ADVICE r2: a NULL delete_col must not silently vanish the row — it
    coalesces to False (upsert)."""
    t = make_table(spark, tmp_path / "t")
    t.merge(
        delta(
            spark,
            [("a", [1], 1, "s", False), ("b", [2], 1, "s", None),
             ("c", [3], 1, "s", True)],
        ),
        epoch=0,
        delete_col="is_del",
    )
    state = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert state == {"a": [1], "b": [2]}  # b kept, c's delete honored


def test_pipeline_inline_gc_bounds_manifests_and_files(spark, tmp_path):
    """gc_keep_snapshots=N: replaying K epochs leaves at most N manifest
    versions and only their referenced data files — the state still matches
    the pure-Python oracle."""
    from embulk_filter_expand_json_spark.reference_oracle import replay
    from embulk_filter_expand_json_spark.sources.changegen import (
        ChangeGenConfig,
        write_changes,
    )
    from embulk_filter_expand_json_spark.streaming.pipeline import CdcPipeline

    cfg = ChangeGenConfig(n_events=2_000, n_docs=100, batch_size=250, seed=5)
    log = str(tmp_path / "log")
    write_changes(spark, cfg, log)
    pipe = CdcPipeline(
        spark, log, str(tmp_path / "tbl"), num_buckets=4, gc_keep_snapshots=2
    )
    pipe.run()
    t = pipe.table
    assert len(t._versions()) <= 2
    referenced = {
        os.path.join(t.path, f["path"])
        for v in t._versions()
        for f in t.manifest(v)["files"]
    }
    assert set(data_files_on_disk(t)) == referenced

    events = [
        (r["log_offset"], r["op"], r["payload"])
        for r in spark.read.parquet(log).collect()
    ]
    want = replay(events, extra_keys=("lang",))
    got = {r["doc_id"]: r["n_tok"] for r in t.read().collect()}
    assert got == {k: v["n_tok"] for k, v in want.items()}


def test_snaptable_read_pushes_key_filter_to_scan(spark, tmp_path):
    """A key predicate on SnapTable.read() must reach the parquet scans as
    PushedFilters — at 100 TB a point lookup rides parquet row-group stats
    instead of scanning every base file's rows."""
    t = make_table(spark, tmp_path / "t", buckets=4)
    rows = [(f"doc-{i:04d}", [i], 1, "s", False) for i in range(200)]
    t.merge(delta(spark, rows), epoch=0, delete_col="is_del")
    from pyspark.sql import functions as F

    df = t.read().filter(F.col("doc_id") == "doc-0042")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "doc_id" in pushed, plan
    assert [r["tokens"] for r in df.collect()] == [[42]]


def test_lookup_prunes_to_key_buckets(spark, tmp_path):
    """SnapTable.lookup must read ONLY the buckets its keys hash to
    (file-level pruning from the manifest) and still see merge-on-read
    state: a deferred delta row and a delete must be reflected."""
    from pyspark.sql import functions as F

    t = make_table(
        spark,
        tmp_path / "t",
        buckets=8,
        properties={
            "min_mor_base_bytes": 0,
            "mor_rewrite_ratio": 1e9,
            "max_delta_files_per_bucket": 1000,
        },
    )
    rows = [(f"doc-{i:04d}", [i], 1, "s", False) for i in range(400)]
    t.merge(delta(spark, rows), epoch=0, delete_col="is_del")
    # deferred MoR epoch: update one key, delete another
    t.merge(
        delta(
            spark,
            [("doc-0007", [777], 1, "s", False),
             ("doc-0011", None, None, None, True)],
        ),
        epoch=1,
        delete_col="is_del",
    )
    assert any(f.get("kind") == "delta" for f in t.manifest()["files"])

    df = t.lookup(["doc-0007", "doc-0011", "doc-0042", "doc-9999"])
    got = {r["doc_id"]: r["tokens"] for r in df.collect()}
    assert got == {"doc-0007": [777], "doc-0042": [42]}

    # file pruning: the scan only touches the buckets the 4 keys hash to
    b = {
        r[0]
        for r in spark.createDataFrame(
            [("doc-0007",), ("doc-0011",), ("doc-0042",), ("doc-9999",)],
            "v string",
        )
        .select(F.pmod(F.xxhash64("v"), F.lit(8)))
        .collect()
    }
    allowed = {
        os.path.join(t.path, f["path"])
        for f in t.manifest()["files"]
        if f["bucket"] in b
    }
    touched = {p.removeprefix("file://") for p in df.inputFiles()}
    assert touched and touched <= allowed
    assert len(touched) < len(t.manifest()["files"])


def test_expire_snapshots_time_based(spark, tmp_path):
    """older_than expires only versions committed before the cutoff;
    keep_last stays a FLOOR regardless of age (Iceberg retain_last)."""
    import json as _json

    t = make_table(spark, tmp_path / "t", buckets=2)
    for e in range(5):
        t.merge(
            delta(spark, [(f"k{i}", [e], 1, "s", False) for i in range(8)]),
            epoch=e,
            delete_col="is_del",
        )
    versions = t._versions()
    # space the commit clocks 100 s apart so cutoffs land between commits
    for i, v in enumerate(versions):
        p = os.path.join(t.log_dir, f"v{v:08d}.json")
        man = _json.loads(open(p).read())
        man["committed_at"] = 1000.0 + 100.0 * i
        open(p, "w").write(_json.dumps(man))

    # cutoff between versions[1] and [2]: only the two oldest expire,
    # even though keep_last=1 would allow more
    res = t.expire_snapshots(keep_last=1, older_than=1000.0 + 150.0)
    assert res["expired_versions"] == versions[:2]
    assert t._versions() == versions[2:]

    # a cutoff in the far future expires by AGE everything above the
    # keep_last floor — never the floor itself
    res = t.expire_snapshots(keep_last=2, older_than=10_000_000.0)
    assert t._versions() == versions[-2:]
    assert res["expired_versions"] == versions[2:-2]

    # current state survives and the table keeps working
    assert t.read().count() == 8
    t.merge(delta(spark, [("k0", [9], 1, "s", False)]), epoch=9,
            delete_col="is_del")
    assert t.read().filter("doc_id = 'k0'").first()["tokens"] == [9]


def test_tags_pin_and_protect_snapshots(spark, tmp_path):
    """Iceberg-style tags: read(tag=) time travel, expire never reclaims a
    tagged version (any policy), tags are create-exclusive and immutable,
    drop releases the pin."""
    import json as _json

    import pytest as _pytest
    from embulk_filter_expand_json_spark.streaming.snaptable import (
        CommitConflict,
    )

    t = make_table(spark, tmp_path / "t", buckets=2)
    for e in range(4):
        t.merge(
            delta(spark, [(f"k{i}", [e], 1, "s", False) for i in range(8)]),
            epoch=e,
            delete_col="is_del",
        )
    versions = t._versions()
    pinned = versions[1]  # an OLD version, first in line to expire
    ref = t.create_tag("train-v1", version=pinned)
    assert ref["version"] == pinned
    assert t.tags() == {"train-v1": pinned}

    # immutable + create-exclusive
    with _pytest.raises(CommitConflict):
        t.create_tag("train-v1", version=versions[-1])
    with _pytest.raises(ValueError):
        t.create_tag("bad name!")
    with _pytest.raises(FileNotFoundError):
        t.create_tag("v99", version=9999)

    # the harshest retention keeps the tagged version alive and readable
    res = t.expire_snapshots(keep_last=1)
    assert pinned not in res["expired_versions"]
    assert pinned in t._versions()
    assert t.read(tag="train-v1").count() == 8
    assert sorted(
        r["tokens"] for r in t.read(tag="train-v1").collect()
    ) == [[0]] * 8  # versions[1] = the epoch-0 merge (versions[0]: create)
    # time-based expiry protects it too
    t.expire_snapshots(keep_last=1, older_than=10_000_000_000.0)
    assert pinned in t._versions()

    # exclusivity of the read() selectors
    with _pytest.raises(ValueError):
        t.read(version=pinned, tag="train-v1")

    # drop releases the pin; the next expire reclaims it
    t.drop_tag("train-v1")
    with _pytest.raises(FileNotFoundError):
        t.drop_tag("train-v1")
    res = t.expire_snapshots(keep_last=1)
    assert pinned in res["expired_versions"]
    with _pytest.raises(FileNotFoundError):
        t.read(version=pinned)


def test_gc_dry_run_and_restore_by_tag(spark, tmp_path):
    """dry_run previews the exact expire/vacuum outcome without deleting;
    restore(tag=) rolls back to a tagged snapshot."""
    import pytest as _pytest

    t = make_table(spark, tmp_path / "t", buckets=2)
    for e in range(4):
        t.merge(
            delta(spark, [(f"k{i}", [e], 1, "s", False) for i in range(8)]),
            epoch=e,
            delete_col="is_del",
        )
    # an aborted commit leaves orphans for vacuum to find
    t.merge(delta(spark, [("k0", [99], 1, "s", False)]), epoch=9,
            delete_col="is_del", pre_commit=lambda: False)

    n_before = len(data_files_on_disk(t))
    versions_before = t._versions()

    prev = t.expire_snapshots(keep_last=2, dry_run=True)
    assert prev["dry_run"] and prev["expired_versions"]
    assert len(data_files_on_disk(t)) == n_before
    assert t._versions() == versions_before

    vprev = t.remove_orphans(older_than_sec=0.0, dry_run=True)
    assert vprev["dry_run"] and vprev["files_removed"] > 0
    assert len(data_files_on_disk(t)) == n_before

    # the real runs remove exactly what the previews reported
    real = t.expire_snapshots(keep_last=2)
    assert real["expired_versions"] == prev["expired_versions"]
    assert real["files_removed"] == prev["files_removed"]
    vreal = t.remove_orphans(older_than_sec=0.0)
    assert vreal["files_removed"] == vprev["files_removed"]

    # restore by tag
    t.create_tag("good", version=t._versions()[-2])
    state_at_tag = sorted(
        (r["doc_id"], r["tokens"]) for r in t.read(tag="good").collect()
    )
    t.merge(delta(spark, [("k0", [None], 1, "s", True)]), epoch=10,
            delete_col="is_del")
    r = t.restore(tag="good")
    assert r["restored_to"] == t.tag_version("good")
    assert sorted(
        (x["doc_id"], x["tokens"]) for x in t.read().collect()
    ) == state_at_tag
    with _pytest.raises(ValueError):
        t.restore()
    with _pytest.raises(ValueError):
        t.restore(version=1, tag="good")
