"""Table replication / derived tables over the change data feed.

``replicate()`` keeps a destination SnapTable in sync with a
changelog-enabled source: bootstrap from a snapshot, then per-commit
catch-up batches from ``read_changes`` applied with the engine's
exactly-once MERGE — the medallion (bronze -> silver) pattern expressed on
the engine's own primitives.

An optional row-wise ``transform`` makes the replica a DERIVED table:
- projections / derived columns: applied to every change row;
- row filters: an upsert whose row no longer satisfies the transform's
  filter is converted into a DELETE of that key downstream (set-semantics:
  the replica holds exactly transform(state), even when a row LEAVES the
  predicate set on update — absence of the upsert alone would leave a
  stale row behind).
Constraints: the transform must be deterministic and row-wise (no
aggregation, no joins that change cardinality per key) and must preserve
the merge key column.

Recovery: if the replica fell behind the feed's retention window
(``changelog_keep``) or the source snapshots it needs were GC'd, a FULL
RESYNC runs instead — upsert the whole current snapshot and delete the
replica keys that no longer exist in it. Exact at any staleness.

Scale: per-commit batches are pure file unions of the source's change
files (no shuffle, no snapshot diff); the resync path is snapshot-sized,
as any recovery must be. Epoch bookkeeping rides the destination's
manifest (last_committed_epoch = last applied source version), so a
replayed catch-up is a recorded no-op.

Reference note: the reference plugin has no table lifecycle; this is the
engine layer the north_rule adds (Delta CDF consumers / Iceberg
incremental-scan pipelines are the public analogs).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable

_META_COLS = ("_change_type", "_commit_version", "_commit_epoch")


def _apply_transform(
    batch: DataFrame,
    transform: Optional[Callable[[DataFrame], DataFrame]],
    key: str,
) -> DataFrame:
    """Transform the upsert rows; upserts dropped by a row filter become
    deletes of their key. Delete rows pass through untransformed (they
    carry the key; payload columns are null-filled downstream)."""
    batch = batch.withColumn(
        "__del", F.col("_change_type") == F.lit("delete")
    ).drop(*_META_COLS)
    if transform is None:
        return batch
    ups = batch.filter(~F.col("__del")).drop("__del")
    dels = batch.filter(F.col("__del")).select(key).withColumn(
        "__del", F.lit(True)
    )
    t_ups = transform(ups)
    if key not in t_ups.columns:
        raise ValueError(f"transform must preserve the key column {key!r}")
    t_ups = t_ups.withColumn("__del", F.lit(False))
    # upserts whose row left the filter set -> deletes (set semantics).
    # eqNullSafe: NULL is one logical key engine-wide; a null-rejecting
    # anti-join would flag a KEPT NULL-key upsert as dropped and emit a
    # spurious delete alongside it
    dropped = (
        ups.select(key)
        .join(
            t_ups.select(F.col(key).alias("__tk")),
            on=F.col(key).eqNullSafe(F.col("__tk")),
            how="left_anti",
        )
        .withColumn("__del", F.lit(True))
    )
    out = t_ups
    for extra in (dropped, dels):
        out = out.unionByName(extra, allowMissingColumns=True)
    return out


def _ensure_dst(
    spark: SparkSession,
    src: SnapTable,
    dst_path: str,
    sample: DataFrame,
    key: str,
    num_buckets: Optional[int],
) -> SnapTable:
    dst = SnapTable(spark, dst_path)
    if not dst.exists():
        fields = [f for f in sample.schema.fields if f.name != "__del"]
        dst.create(
            T.StructType(fields),
            key=key,
            num_buckets=num_buckets or src.manifest()["num_buckets"],
            properties={"replica_of": src.path},
        )
    return dst


def _auto_evolve(dst: SnapTable, batch: DataFrame) -> None:
    known = set(dst.schema().fieldNames())
    new = [
        f
        for f in batch.schema.fields
        if f.name not in known and f.name != "__del"
    ]
    if new:
        dst.evolve_add_columns(new)


def replicate(
    spark: SparkSession,
    src: SnapTable,
    dst_path: str,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    num_buckets: Optional[int] = None,
    coalesce_window: bool = True,
) -> dict:
    """One catch-up round: bring the replica at ``dst_path`` up to the
    source's current snapshot version. Idempotent; call as often as you
    like (each commit applies at most once).

    ``coalesce_window`` (default): the whole pending feed window applies
    as ONE merge — per-key LWW by commit version picks each key's final
    change, which yields the identical end state (each commit has one row
    per key, later commits win) while paying one exactly-once commit
    instead of one per source commit (measured ~4x faster catch-up at the
    bench shape). Set False to mirror the source commit-by-commit (the
    replica's own history/feed then mirrors the source's commit
    granularity — the audit-parity mode)."""
    src_man = src.manifest()
    key = src_man["key"]
    src_version = src_man["version"]

    dst = SnapTable(spark, dst_path)
    applied = dst.manifest()["last_committed_epoch"] if dst.exists() else -1
    if applied >= src_version:
        return {"applied_versions": [], "mode": "up_to_date"}

    def full_sync(mode: str) -> dict:
        snap = src.read(version=src_version)
        if transform is not None:
            snap = transform(snap)
            if key not in snap.columns:
                raise ValueError(
                    f"transform must preserve the key column {key!r}"
                )
        snap = snap.withColumn("__del", F.lit(False))
        d = _ensure_dst(spark, src, dst_path, snap, key, num_buckets)
        _auto_evolve(d, snap)
        if d.manifest()["last_committed_epoch"] >= 0:
            # replica keys that vanished from the source while we were
            # stale: absence from the snapshot upsert would leave them
            # behind — delete them explicitly
            # eqNullSafe: NULL is one logical key engine-wide; a
            # null-rejecting anti-join would never match a NULL-key
            # replica row against the snapshot, emitting a spurious
            # delete alongside its upsert — and delete-wins tie-break
            # would then drop a row still present in the source
            gone = (
                d.read()
                .select(key)
                .join(
                    snap.select(F.col(key).alias("__sk")),
                    on=F.col(key).eqNullSafe(F.col("__sk")),
                    how="left_anti",
                )
                .withColumn("__del", F.lit(True))
            )
            snap = snap.unionByName(gone, allowMissingColumns=True)
        d.merge(snap, epoch=src_version, delete_col="__del")
        return {"applied_versions": [src_version], "mode": mode}

    if applied < 0:
        return full_sync("bootstrap")

    try:
        # the feed itself is the retention probe, built BEFORE applying
        # anything
        feed = src.read_changes(applied, src_version)
    except ValueError as e:
        if "not enabled" in str(e):
            raise  # replication needs the feed; don't mask a config error
        return full_sync("resync_after_gap")

    # resolve everything against the LATEST manifest only: intermediate
    # snapshots may have been GC'd (their _log/vNNN.json unlinked), but the
    # latest manifest still carries the retained change entries — per-batch
    # manifest(v) reads would crash on expired versions
    latest_man = src.manifest(src_version)
    entries = [
        e
        for e in latest_man.get("changes", [])
        if applied < e["version"] <= src_version
    ]
    applied_versions = []
    if coalesce_window and entries:
        from embulk_filter_expand_json_spark.operators.dedup_lww import (
            lww_dedup,
        )

        # per-key winner across the window: later commit wins (each commit
        # carries one row per key, so ties within a version cannot occur)
        winners = lww_dedup(feed, key=key, order="_commit_version")
        out = _apply_transform(winners, transform, key)
        _auto_evolve(dst, out)
        res = dst.merge(out, epoch=src_version, delete_col="__del")
        if not res.get("skipped"):
            applied_versions = [e["version"] for e in entries]
    else:
        for e in sorted(entries, key=lambda e: e["version"]):
            batch = feed.filter(F.col("_commit_version") == e["version"])
            out = _apply_transform(batch, transform, key)
            _auto_evolve(dst, out)
            res = dst.merge(out, epoch=e["version"], delete_col="__del")
            if not res.get("skipped"):
                applied_versions.append(e["version"])
    # commits with no change entry (compaction, schema-only) still advance
    # the source version; record catch-up via an empty merge when needed
    if dst.manifest()["last_committed_epoch"] < src_version:
        empty = spark.createDataFrame([], dst.schema()).withColumn(
            "__del", F.lit(False)
        )
        dst.merge(empty, epoch=src_version, delete_col="__del")
    return {"applied_versions": applied_versions, "mode": "incremental"}
