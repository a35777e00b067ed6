"""CdcPipeline — the epoch-replay driver (north_rule engine layer).

``binlog tail -> expand -> LWW dedup -> MERGE`` as a checkpointed
micro-batch loop over a partitioned change log:

1. read one epoch's change slice (parquet partition-pruned on ``epoch``)
2. expand the JSON payload with the reference-semantics operator
   (Catalyst fast path — the payload paths are all definite),
   invalid records routed to the skip channel and counted
3. additive schema evolution: new top-level payload keys (via
   ``json_object_keys``) become nullable string columns on the target
4. last-writer-wins dedup on (doc_id, log_offset)
5. idempotent SnapTable MERGE (epoch-keyed exactly-once commit)
6. append lineage + metrics to the checkpointed offset log

Resume = continue from ``last_committed_epoch + 1``; re-applied epochs are
no-ops, so a crash anywhere leaves the table consistent (the reference
delegates all of this to the Embulk framework's transaction/resume model —
ExpandJsonFilterPlugin.java:98-137 — our engine owns it explicitly).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from embulk_filter_expand_json_spark.operators.dedup_lww import lww_dedup
from embulk_filter_expand_json_spark.operators.expand import expand_json
from embulk_filter_expand_json_spark.plans.expand_plan import (
    ExpandConfig,
    ExpandedColumn,
)
from embulk_filter_expand_json_spark.streaming.snaptable import (
    CommitConflict,
    SnapTable,
)

#: the tokenized-sequence table (BASELINE.json input_hint, exact shape)
SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

#: payload keys that are part of the CDC envelope, never data columns
_BASE_KEYS = {"doc_id", "tokens", "n_tok", "source"}


def _obs_row(obs) -> dict:
    """Observation.get, tolerant of AQE empty-relation pruning. When the
    observed stream turns out runtime-EMPTY below a shuffle (a clean epoch's
    quarantine pass, an all-invalid epoch's post-expansion stream), AQE's
    PropagateEmptyRelation replaces the subtree and the CollectMetrics node
    never executes — the JVM-side metrics row is irretrievable (toPyRow
    asserts). The only consistent reading of that state is "the observed
    stream had zero rows", so missing metrics resolve to an empty dict and
    callers default each field to 0. ONLY that specific assertion is
    swallowed — any other JVM failure re-raises, because reading a real
    metrics error as zero counts would let a fail-action expectation pass
    on an epoch that actually violated it."""
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get
    except Py4JJavaError as e:
        msg = str(e)
        # BOTH fragments required: the pruned-CollectMetrics state always
        # surfaces as the scala `assertion failed` thrown THROUGH the
        # toPyRow call. Either fragment alone is some other JVM failure
        # (an OOM inside toPyRow, an unrelated assertion) and must
        # re-raise — reading it as zero counts could let a fail-action
        # expectation pass on an epoch that violated it (ADVICE r5).
        if "toPyRow" in msg and "assertion failed" in msg:
            return {}
        raise


class ExpectationFailed(RuntimeError):
    """A fail-action expectation found violating rows; the epoch was
    aborted before publish and stays replayable after the producer fix."""


@dataclass
class EpochMetrics:
    epoch: int
    rows_in: int = 0
    invalid: int = 0
    deletes: int = 0
    upserts: int = 0
    dedup_dropped: int = 0
    quarantined: int = 0
    expectation_failures: dict = field(default_factory=dict)
    rebucketed_to: Optional[int] = None
    evolved_columns: List[str] = field(default_factory=list)
    buckets_touched: int = 0
    #: the committed merge's new manifest files and the bytes its stage job
    #: and its rewrite wrote (0 when no bucket was rewritten)
    files_written: int = 0
    bytes_staged: int = 0
    bytes_rewritten: int = 0
    #: the committed merge's per-phase wall seconds (a drift epoch: the redo)
    phases: dict = field(default_factory=dict)
    skipped: bool = False
    wall_sec: float = 0.0
    start_offset: Optional[int] = None
    end_offset: Optional[int] = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__)


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        changes_path: str,
        table_path: str,
        key: str = "doc_id",
        order: str = "log_offset",
        lww_strategy: str = "agg",
        num_buckets: int = 16,
        auto_evolve: bool = True,
        mor_rewrite_ratio: float = 0.2,
        max_delta_files_per_bucket: int = 8,
        min_mor_base_bytes: int = 64 * 1024 * 1024,
        gc_keep_snapshots: Optional[int] = None,
        changelog: bool = False,
        changelog_keep: int = 64,
        expected_columns: Sequence[str] = (),
        quarantine_path: Optional[str] = None,
        auto_rebucket_bytes: Optional[int] = None,
        stats_columns: Sequence[str] = (),
        expectations: Sequence[tuple] = (),
        bloom_columns: Sequence[str] = (),
        bloom_ndv: Optional[int] = None,
    ):
        self.spark = spark
        self.changes_path = changes_path
        self.table = SnapTable(spark, table_path)
        self.key = key
        self.order = order
        self.lww_strategy = lww_strategy
        self.auto_evolve = auto_evolve
        #: when set, expire_snapshots(keep_last=N) runs after every commit —
        #: REQUIRED for unbounded replay (10^10 events): every CoW rewrite
        #: retains superseded files for time travel, so without GC disk
        #: growth is O(epochs * table size). None = retain everything
        #: (explicit maintenance via SnapTable.expire_snapshots).
        self.gc_keep_snapshots = gc_keep_snapshots
        #: dead-letter table (opt-in): every change record the epoch would
        #: silently drop — malformed document, failed cast, NULL merge key —
        #: is MERGEd (same epoch number, exactly-once) into a side SnapTable
        #: keyed by log_offset, with an _invalid_reason column. Bad producer
        #: payloads stay replayable after a producer fix instead of being
        #: gone. The main path's plan is untouched: quarantine runs as its
        #: own classification pass over the epoch slice (a pure-JVM
        #: projection, operators/expand.py flag_invalid_records), committed
        #: BEFORE the main merge so a crash between the two replays the
        #: epoch with the quarantine commit a recorded no-op.
        self.quarantine = (
            SnapTable(spark, quarantine_path) if quarantine_path else None
        )
        #: bucket-layout growth policy (opt-in): after a commit, when the
        #: table's mean BASE bytes per bucket exceed this target, the
        #: layout doubles via SnapTable.rebucket. This automates the
        #: design rule that bucket count grows with table size (target
        #: 0.25-1 GB/bucket at 100 TB) for replays whose table grows
        #: orders of magnitude past its create-time sizing — the decision
        #: is manifest-metadata-only per epoch; the rewrite itself is a
        #: once-per-doubling maintenance job, amortized O(1) per row.
        self.auto_rebucket_bytes = auto_rebucket_bytes
        #: data-quality EXPECTATIONS (Delta Live Tables parity), applied to
        #: each epoch's LWW winners (deletes exempt — they carry no
        #: payload): (name, sql_predicate, action) with action one of
        #:   warn — count violations (metrics + lineage), keep the rows
        #:   drop — count and EXCLUDE violating upserts from the merge
        #:          (the bad update is rejected; the table keeps the row's
        #:          prior state — the CDC reading of DLT's expect_or_drop)
        #:   fail — abort the epoch BEFORE publish if any row violates
        #:          (staged files reclaimed; the epoch stays replayable
        #:          after the producer fix — DLT's expect_or_fail)
        #: A NULL predicate is a violation (expectations assert truth).
        #: Violation counts ride the epoch's single-pass observation — no
        #: extra job.
        self.expectations = [tuple(e) for e in expectations]
        seen = set()
        for name, _pred, action in self.expectations:
            if action not in ("warn", "drop", "fail"):
                raise ValueError(
                    f"expectation {name!r}: action must be "
                    f"warn|drop|fail, got {action!r}"
                )
            if name in seen:
                raise ValueError(f"duplicate expectation name {name!r}")
            seen.add(name)
        # lineage log rides the same TableFS as the table's manifests, so
        # a URI table_path keeps the checkpoint next to the table. Object
        # stores can't append — TableFS.append_text read-modify-writes
        # there, fine for one short line per epoch.
        from .fs import fs_for_path as _ffp

        self._ckpt_fs, _meta_root = _ffp(table_path)
        self.offsets_log = "/".join(
            [_meta_root, "_checkpoints", "offsets.jsonl"]
        )
        # declared payload columns beyond the base schema (the Schema
        # Registry pattern): when producers' extra keys are known upfront,
        # declaring them here means the first epoch that carries them never
        # takes the observe-abort-evolve-redo detour — its stage write
        # commits first try. Auto-evolve still catches anything UNdeclared.
        # copy before add(): StructType.add MUTATES the receiver (and
        # returns it), so extending the module-global SEQUENCES_SCHEMA in
        # place would leak declared columns into every later pipeline in
        # the process
        schema = T.StructType(list(SEQUENCES_SCHEMA.fields))
        for c in expected_columns:
            if c not in schema.fieldNames():
                schema = schema.add(T.StructField(c, T.StringType(), True))
        if not self.table.exists():
            self.table.create(
                schema,
                key=key,
                num_buckets=num_buckets,
                # merge-on-read knobs (see SnapTable.merge): small epochs
                # defer as delta files; a bucket compacts inline past either
                # threshold; buckets below the byte floor always take the
                # plain-CoW path (deferral never wins on small bases)
                properties={
                    "mor_rewrite_ratio": mor_rewrite_ratio,
                    "max_delta_files_per_bucket": max_delta_files_per_bucket,
                    "min_mor_base_bytes": min_mor_base_bytes,
                    # change data feed: record per-commit change files so
                    # downstream pipelines can tail this table as a binlog
                    # (SnapTable.read_changes) instead of diffing snapshots
                    "changelog": changelog,
                    "changelog_keep": changelog_keep,
                    # column-stats file skipping (SnapTable.read_where):
                    # min/max recorded per new base file for these columns
                    **(
                        {"stats_columns": list(stats_columns)}
                        if stats_columns
                        else {}
                    ),
                    # parquet Bloom bitsets on these columns at every data
                    # write — the row-group skipping structure that works
                    # where min/max can't (hash-randomized key layouts);
                    # consulted by Spark's reader for pushed-down
                    # equality/IN predicates (the lookup() path)
                    **(
                        {"bloom_columns": list(bloom_columns)}
                        if bloom_columns
                        else {}
                    ),
                    **({"bloom_ndv": int(bloom_ndv)} if bloom_ndv else {}),
                },
            )

    # ----------------------------------------------------------- checkpoints
    def last_committed_epoch(self) -> int:
        return self.table.manifest()["last_committed_epoch"]

    def _append_lineage(self, m: EpochMetrics) -> None:
        self._ckpt_fs.append_text(self.offsets_log, m.to_json() + "\n")

    # ------------------------------------------------------------ expansion
    def _expand_config(self, extra_string_cols: List[str]) -> ExpandConfig:
        cols = [
            ExpandedColumn("doc_id", "string"),
            ExpandedColumn("tokens", "json"),
            ExpandedColumn("n_tok", "long"),
            ExpandedColumn("source", "string"),
        ] + [ExpandedColumn(c, "string") for c in extra_string_cols]
        return ExpandConfig(
            json_column_name="payload",
            expanded_columns=tuple(cols),
            keep_expanding_json_column=False,
            stop_on_invalid_record=False,
            malformed_json_policy="invalid_record",
        )

    def _scan_new_keys(self, changes: DataFrame) -> List[str]:
        """Exact new-key set of a quarantine redrive's repaired rows (one
        key-scan job per redrive; the epoch path collects its drift keys
        through the stage job's observation instead)."""
        known = set(self.table.schema().fieldNames()) | _BASE_KEYS
        rows = (
            changes.select(
                F.explode_outer(F.json_object_keys("payload")).alias("k")
            )
            .filter(F.col("k").isNotNull())
            .distinct()
            .collect()
        )
        return sorted({r["k"] for r in rows} - known)

    # ---------------------------------------------------------- epoch apply
    def _read_changes(self) -> DataFrame:
        """Read the change log with a pinned schema (inferred once per
        pipeline): repeated per-epoch reads must not each pay a footer
        schema-inference job.

        Invariant: the change-log parquet ENVELOPE schema (log_offset,
        epoch, op, payload) is fixed for the lifetime of a pipeline
        instance — files appending new envelope columns mid-run would be
        read with the pinned schema (extra columns ignored). Payload-level
        drift is unaffected: new JSON keys live inside ``payload`` and are
        detected per epoch by the observe-driven drift check."""
        if getattr(self, "_changes_schema", None) is None:
            self._changes_schema = self.spark.read.parquet(
                self.changes_path
            ).schema
        return self.spark.read.schema(self._changes_schema).parquet(
            self.changes_path
        )

    def apply_epoch(self, epoch: int) -> EpochMetrics:
        """Apply one epoch of the bounded change log (partition-pruned).

        BYTES-GATED input fan-out: at small epochs (a split's worth or
        less) the stage job is bounded by its shuffle/write/commit rounds
        and repartitioning the pruned slice measured as a net loss
        (~0.3 s/epoch at 62.5k-row epochs); at larger epochs the pruned
        read still packs into a couple of splits (many sub-split files
        per epoch directory) and expansion+LWW map work serializes onto
        them — measured 5.2-7.3 s of a 6.5-10 s epoch at 625k-row epochs.
        Fan out only past one split's worth of bytes; at real scale the
        scan has more splits than cores and this is a structural no-op."""
        from embulk_filter_expand_json_spark.functions.fanout import (
            fan_out_small_scan,
        )

        changes = fan_out_small_scan(
            self._read_changes().filter(F.col("epoch") == epoch),
            min_bytes=128 << 20,
        )
        return self.apply_micro_batch(changes, epoch)

    def apply_micro_batch(self, changes: DataFrame, epoch: int) -> EpochMetrics:
        """Apply an arbitrary change DataFrame as epoch ``epoch`` — shared
        by the bounded replay loop and the Structured Streaming front-end
        (streaming/stream_apply.py, where epoch = streaming batch_id). Both
        take the same observed single pass: Observations resolve inside
        ``foreachBatch`` too."""
        t0 = time.time()
        m = EpochMetrics(epoch=epoch)
        if epoch <= self.last_committed_epoch():
            m.skipped = True
            m.wall_sec = time.time() - t0
            self._append_lineage(m)
            return m

        if self.quarantine is not None:
            m.quarantined = self._quarantine_epoch(changes, epoch)

        # ---- single-pass epoch: every side-aggregate (schema-drift keys,
        # offset range, invalid/dedup counts, touched-bucket set) rides the
        # ONE stage-write action — CollectMetrics for the counters, the
        # staged directory listing for the buckets. No pre-count, no key
        # scan, no checkpoint job.
        result = self._run_merge(changes, epoch, m)
        if result.get("aborted"):
            # rare path: an unknown payload key appeared in this epoch (an
            # expectation abort raises in _run_merge, so this one is drift).
            # The stage write was discarded pre-publish (and the rewrite
            # never ran); evolve additively and redo the epoch with the
            # extended expansion config. This abort is the pipeline's own
            # decision (not a crash), so its staged files are reclaimed
            # immediately instead of waiting for an orphan sweep.
            dk = result["drift_keys"]
            # key names rode the observation — no separate scan job
            self.table.evolve_add_columns(
                [T.StructField(k, T.StringType(), True) for k in dk]
            )
            m.evolved_columns = dk
            if result.get("orphaned_dir"):
                self.table._discard_commit_dir(result["orphaned_dir"])
            result = self._run_merge(changes, epoch, m, detect_drift=False)
        m.skipped = result.get("skipped", False)
        m.buckets_touched = result.get("buckets_touched", 0)
        m.files_written = result.get("files_written", 0)
        m.bytes_staged = result.get("bytes_staged", 0)
        m.bytes_rewritten = result.get("bytes_rewritten", 0)
        m.phases = result.get("timings") or {}
        if self.auto_rebucket_bytes is not None and not m.skipped:
            man = self.table.manifest()
            base_bytes = sum(
                f.get("bytes", 0)
                for f in man["files"]
                if f.get("kind", "base") == "base"
            )
            if base_bytes > self.auto_rebucket_bytes * man["num_buckets"]:
                r = self.table.rebucket(man["num_buckets"] * 2)
                m.rebucketed_to = r["buckets_after"]
        if self.gc_keep_snapshots is not None and not m.skipped:
            # inline maintenance (the Iceberg expire_snapshots analog): a
            # metadata-only filesystem walk, no Spark job
            self.table.expire_snapshots(keep_last=self.gc_keep_snapshots)
        m.wall_sec = time.time() - t0
        self._append_lineage(m)
        return m

    def _quarantine_epoch(self, changes: DataFrame, epoch: int) -> int:
        """Merge this epoch's would-be-dropped change records into the
        dead-letter table; returns the quarantined row count (it rides the
        merge's own stage job as an Observation — no extra scan).

        Three reasons, matching exactly what the main path drops:
        ``malformed_document`` / ``cast_error`` (the expansion operator's
        invalid-record channel, decided by the same cast kernels) and
        ``null_merge_key`` (rows the pipeline filters because the payload
        has no doc_id). Runs its own pass over the epoch slice — at the
        10^10 target that is one extra partition-pruned scan per epoch,
        the price of the opt-in; the main path's pinned single-pass plan
        is untouched."""
        from pyspark.sql import Observation

        from embulk_filter_expand_json_spark.operators.expand import (
            flag_invalid_records,
        )

        extra_cols = [
            f.name
            for f in self.table.schema().fields
            if f.name not in _BASE_KEYS
        ]
        cfg = self._expand_config(extra_cols)
        flagged = flag_invalid_records(changes, cfg, mode="auto")
        no_key = F.get_json_object("payload", "$.doc_id").isNull()
        quar = (
            flagged.filter(F.col("_invalid") | no_key)
            .withColumn(
                "_invalid_reason",
                F.coalesce("_invalid_reason", F.lit("null_merge_key")),
            )
            .drop("_invalid")
        )
        if not self.quarantine.exists():
            self.quarantine.create(
                T.StructType(
                    list(changes.schema.fields)
                    + [T.StructField("_invalid_reason", T.StringType(), True)]
                ),
                key=self.order,
                num_buckets=8,
                properties={"quarantine": True},
            )
        obs = Observation()
        quar = quar.observe(obs, F.count(F.lit(1)).alias("n"))
        res = self.quarantine.merge(quar, epoch=epoch)
        if res.get("skipped"):
            return 0
        if res.get("buckets_touched", 0) == 0:
            # clean epoch: zero staged rows, and AQE's empty-relation
            # propagation may have pruned the CollectMetrics node (see
            # _obs_row) — zero staged buckets IS the quarantine count
            return 0
        return _obs_row(obs).get("n") or 0

    def requeue_quarantine(self, fix=None) -> dict:
        """Dead-letter redrive: repair quarantined change records and apply
        them to the main table under GLOBAL LWW, without touching the CDC
        watermark (the DLQ-redrive lifecycle — Kafka Connect / Kinesis DLQ
        parity for this engine's invalid-record channel).

        ``fix``: callable ``DataFrame -> DataFrame`` over the quarantine
        rows (canonical change shape + ``_invalid_reason``) returning the
        repaired rows — typically a payload rewrite after a producer bug
        fix. None = retry as-is (for rows quarantined by a since-evolved
        schema). Rows must keep (order, op, payload).

        Semantics, provably equal to "the rows had been valid all along"
        (tests/test_quarantine_requeue.py pins this against a from-scratch
        replay of the repaired log):

        - rows still failing the ingest classifiers (same cast kernels +
          null-merge-key check the pipeline quarantines on) STAY
          quarantined, untouched;
        - repaired rows are LWW-deduped among themselves, then a repaired
          winner applies ONLY if its offset exceeds the doc's max VALID
          offset across all COMMITTED epochs of the change log (a repaired
          row must not stomp newer state it would have lost LWW to — and a
          stale repaired row is exactly the row replay would have
          discarded, so it is removed from the quarantine as done);
        - new payload keys in repaired rows auto-evolve additively (same
          policy as ingest) when ``auto_evolve``;
        - the apply is a watermark-pinned conditional MERGE
          (snaptable.merge_into, epoch=None): delete winners delete,
          upsert winners update-or-insert; the change feed records it as
          DML, and epoch replay/exactly-once bookkeeping is untouched;
        - every repaired row (applied or stale) is then deleted from the
          quarantine table, also watermark-pinned.

        Scale shape: one partition-pruned-free scan of the committed log
        (the per-doc max-valid-offset aggregate — the price of global LWW
        correctness, paid once per redrive, not per epoch), one broadcast
        bucket-pruned MERGE sized to the repaired set, and metadata-sized
        driver aggregates. Counts returned: ``quarantined``, ``repaired``,
        ``still_invalid``, ``winners``, ``applied``, ``stale``.
        """
        from embulk_filter_expand_json_spark.operators.expand import (
            flag_invalid_records,
        )

        if self.quarantine is None:
            raise ValueError("no quarantine table configured on this pipeline")
        if not self.quarantine.exists():
            return {
                "quarantined": 0, "repaired": 0, "still_invalid": 0,
                "winners": 0, "applied": 0, "stale": 0,
            }

        q = self.quarantine.read()
        total = q.count()
        fixed = fix(q) if fix is not None else q
        missing = {self.order, "op", "payload"} - set(fixed.columns)
        if missing:
            raise ValueError(
                f"fix() dropped required column(s): {sorted(missing)}"
            )
        fixed = fixed.drop("_invalid_reason")

        # re-classify with the SAME kernels the ingest path quarantines on
        extra_cols = [
            f.name
            for f in self.table.schema().fields
            if f.name not in _BASE_KEYS
        ]
        cfg = self._expand_config(extra_cols)
        key_path = f"$.{self.key}"
        no_key = F.get_json_object("payload", key_path).isNull()
        good = (
            flag_invalid_records(fixed, cfg, mode="auto")
            .filter(~F.col("_invalid") & ~no_key)
            .drop("_invalid", "_invalid_reason")
            .localCheckpoint()  # small (DLQ-sized); read many times below
        )
        repaired = good.count()

        if repaired and self.auto_evolve:
            new_keys = self._scan_new_keys(good)
            if new_keys:
                self.table.evolve_add_columns(
                    [T.StructField(k, T.StringType(), True) for k in new_keys]
                )
                extra_cols = [
                    f.name
                    for f in self.table.schema().fields
                    if f.name not in _BASE_KEYS
                ]
                cfg = self._expand_config(extra_cols)

        out = {
            "quarantined": total,
            "repaired": repaired,
            "still_invalid": total - repaired,
            "winners": 0,
            "applied": 0,
            "stale": 0,
        }
        if repaired == 0:
            return out

        typed = (
            expand_json(good, cfg, mode="auto", fan_out=False)
            .select(
                F.col(self.order),
                F.col("op"),
                F.col(self.key),
                F.from_json(
                    "tokens", T.ArrayType(T.IntegerType())
                ).alias("tokens"),
                F.col("n_tok").cast("int").alias("n_tok"),
                F.col("source"),
                *[F.col(c) for c in extra_cols],
            )
            .filter(F.col(self.key).isNotNull())
        )
        deduped = lww_dedup(
            typed, key=self.key, order=self.order, strategy=self.lww_strategy
        ).localCheckpoint()  # one expansion pass; re-joined per attempt
        out["winners"] = deduped.count()

        # data-quality expectations apply to redriven winners exactly as
        # the epoch path applies them to LWW winners ("had the rows been
        # valid all along"): deletes exempt, NULL predicate = violation;
        # fail aborts BEFORE any mutation, drop excludes the row (it still
        # leaves the DLQ — it was repaired and adjudicated), warn counts
        if self.expectations:
            viols = [
                (F.col("op") != F.lit("D"))
                & ~F.coalesce(F.expr(pred), F.lit(False))
                for _n, pred, _a in self.expectations
            ]
            counts = deduped.agg(
                *[
                    F.sum(F.when(v, 1).otherwise(0)).alias(f"exp_{i}")
                    for i, v in enumerate(viols)
                ]
            ).collect()[0]
            keep = None
            for i, (name, _pred, action) in enumerate(self.expectations):
                n = counts[f"exp_{i}"] or 0
                out[f"expectation_{name}"] = n
                if action == "fail" and n > 0:
                    raise ExpectationFailed(
                        f"requeue aborted: expectation {name!r} violated "
                        f"by {n} repaired rows (nothing was applied)"
                    )
                if action == "drop":
                    k = ~viols[i]
                    keep = k if keep is None else keep & k
            if keep is not None:
                deduped = deduped.filter(keep)
                # exact post-drop survivor count (a row violating several
                # drop-expectations is one drop, so per-expectation sums
                # cannot substitute): dropped rows report under their own
                # counter, never as 'stale' (ADVICE r5)
                out["expectation_dropped"] = out["winners"] - deduped.count()

        # the redrive ledger: (key, max redriven offset) per doc, because
        # rows applied by a PREVIOUS redrive exist only as DML in the feed
        # — they are invisible to the valid-rows-of-the-log scan, and
        # without the ledger a later redrive could stomp them with an
        # older-offset repair
        ledger = SnapTable(
            self.spark, self.quarantine.path.rstrip("/") + "_redrive"
        )

        def build_cand():
            # recomputed per commit attempt AGAINST THE FRESH WATERMARK:
            # an epoch committing concurrently with the redrive raises
            # CommitConflict below (same-doc commits always touch the
            # doc's bucket), and the retry must re-derive the guard like
            # update_where recomputes its predicate — a stale guard plus
            # the unconditional matched-update would overwrite newer state
            applied_log = self._read_changes().filter(
                F.col("epoch") <= self.last_committed_epoch()
            )
            # A repaired row must never compete against its OWN logged
            # copy: when the current classifier config has relaxed since
            # the row was quarantined (the fix=None since-evolved-schema
            # retry), the logged bytes re-classify VALID and would
            # contribute the row's own offset to applied_max — the strict
            # '>' below would then call the row stale and delete it from
            # the DLQ without ever applying it. Anti-join the redrive
            # batch's offsets out of the scan (offsets are the log's
            # global order key, so this removes exactly those copies).
            applied_log = applied_log.join(
                F.broadcast(good.select(self.order).distinct()),
                on=self.order,
                how="left_anti",
            )
            pairs = (
                flag_invalid_records(applied_log, cfg, mode="auto")
                .filter(
                    ~F.col("_invalid")
                    & F.get_json_object("payload", key_path).isNotNull()
                )
                .select(
                    F.get_json_object("payload", key_path).alias(self.key),
                    F.col(self.order),
                )
            )
            if ledger.exists():
                pairs = pairs.unionByName(
                    ledger.read().select(self.key, self.order)
                )
            applied_max = pairs.groupBy(self.key).agg(
                F.max(self.order).alias("__applied_off")
            )
            return (
                deduped.join(applied_max, on=self.key, how="left")
                .filter(
                    F.col("__applied_off").isNull()
                    | (F.col(self.order) > F.col("__applied_off"))
                )
                .drop("__applied_off")
                .localCheckpoint()  # merge_into re-reads its source
            )

        data_cols = [f.name for f in self.table.schema().fields]
        last_err = None
        for _ in range(10):
            cand = build_cand()
            out["applied"] = cand.count()
            out["stale"] = (
                out["winners"]
                - out.get("expectation_dropped", 0)
                - out["applied"]
            )
            if not out["applied"]:
                break
            src = cand.withColumn("__del", F.col("op") == "D").drop(
                "op", self.order
            )
            try:
                self.table.merge_into(
                    src,
                    when_matched_delete_condition="s.__del",
                    when_matched_update={
                        c: f"s.{c}" for c in data_cols if c != self.key
                    },
                    when_matched_update_condition="NOT s.__del",
                    when_not_matched_insert=True,
                    when_not_matched_condition="NOT s.__del",
                    max_commit_retries=0,  # retries recompute the guard
                )
                last_err = None
                break
            except CommitConflict as e:
                last_err = e
                continue
        if last_err is not None:
            raise CommitConflict(
                "requeue exhausted its guard-recompute retries"
            ) from last_err

        if out["applied"]:
            # record the redriven offsets so FUTURE redrives' guards see
            # them (monotone per doc: update only when the new offset wins)
            if not ledger.exists():
                ledger.create(
                    T.StructType(
                        [
                            T.StructField(self.key, T.StringType(), False),
                            T.StructField(self.order, T.LongType(), True),
                        ]
                    ),
                    key=self.key,
                    num_buckets=8,
                    properties={"redrive_ledger": True},
                )
            ledger.merge_into(
                cand.select(self.key, self.order),
                when_matched_update={self.order: f"s.{self.order}"},
                when_matched_update_condition=(
                    f"s.{self.order} > t.{self.order}"
                ),
                when_not_matched_insert=True,
            )

        # every repaired row leaves the DLQ (applied, LWW-lost within the
        # redrive batch, expectation-dropped, or stale vs the table) —
        # only still-invalid stay
        self.quarantine.merge_into(
            good.select(self.order),
            when_matched_delete_condition="true",
            when_not_matched_insert=False,
        )
        return out

    def _run_merge(
        self,
        changes: DataFrame,
        epoch: int,
        m: EpochMetrics,
        detect_drift: bool = True,
    ) -> dict:
        from pyspark.sql import Observation

        extra_cols = [
            f.name for f in self.table.schema().fields if f.name not in _BASE_KEYS
        ]
        known_arr = F.array(
            *[F.lit(k) for k in sorted(_BASE_KEYS | set(extra_cols))]
        )

        obs_in = Observation()
        in_aggs = [
            F.count(F.lit(1)).alias("rows_in"),
            F.min(self.order).alias("lo"),
            F.max(self.order).alias("hi"),
        ]
        if detect_drift and self.auto_evolve:
            # collect the unknown key NAMES, not just a flag: on the rare
            # drift abort the evolve step then needs no separate key-scan
            # job. collect_set, not collect_list: the common drift mode is
            # a producer adding the same key to EVERY row, and identical
            # key-arrays dedupe in the aggregation buffer — the observation
            # stays key-set-sized, never epoch-row-sized (when() nulls keep
            # non-drifting rows out)
            unknown_arr = F.array_except(
                F.json_object_keys("payload"), known_arr
            )
            in_aggs.append(
                F.collect_set(
                    F.when(F.size(unknown_arr) > 0, unknown_arr)
                ).alias("drift_keys")
            )
        observed = changes.observe(obs_in, *in_aggs)

        cfg = self._expand_config(extra_cols)
        # fan_out=False: the LWW exchange immediately downstream already
        # redistributes, and repartitioning the raw epoch payload up front
        # measured as a net loss in the replay loop (~0.3 s/epoch)
        expanded = expand_json(observed, cfg, mode="auto", fan_out=False)
        # JSON-text tokens -> array<int32>; a non-array here would have
        # already been dropped by the json-cast invalid channel
        typed = expanded.select(
            F.col(self.order),
            F.col("op"),
            F.col("doc_id"),
            F.from_json("tokens", T.ArrayType(T.IntegerType())).alias("tokens"),
            F.col("n_tok").cast("int").alias("n_tok"),
            F.col("source"),
            *[F.col(c) for c in extra_cols],
        ).filter(F.col("doc_id").isNotNull())
        obs_valid = Observation()
        typed = typed.observe(obs_valid, F.count(F.lit(1)).alias("valid"))

        deduped = lww_dedup(
            typed, key=self.key, order=self.order, strategy=self.lww_strategy
        )
        # expectation violation predicates over the LWW winners: deletes
        # are exempt (no payload), NULL predicate = violation
        viols = [
            (F.col("op") != F.lit("D"))
            & ~F.coalesce(F.expr(pred), F.lit(False))
            for _name, pred, _action in self.expectations
        ]
        obs_out = Observation()
        deduped = deduped.observe(
            obs_out,
            F.count(F.lit(1)).alias("n_out"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes"),
            # violation counts ride the same single pass
            *[
                F.sum(F.when(v, 1).otherwise(0)).alias(f"exp_{i}")
                for i, v in enumerate(viols)
            ],
        )
        drop_viol = [
            v
            for v, (_n, _p, a) in zip(viols, self.expectations)
            if a == "drop"
        ]
        if drop_viol:
            keep = ~drop_viol[0]
            for v in drop_viol[1:]:
                keep = keep & ~v
            # the observation sits upstream of this filter: counts see
            # every winner, the merge sees only the surviving ones
            deduped = deduped.filter(keep)

        drift_holder: List[str] = []
        exp_fail_holder: List[str] = []

        def pre_commit() -> bool:
            # obs_in observes the raw epoch slice (never empty for a real
            # epoch); obs_valid/obs_out sit downstream of the invalid-drop
            # and can be runtime-empty (all-invalid epoch) — _obs_row
            # resolves their pruned-CollectMetrics case to zero counts
            vals = obs_in.get
            m.rows_in = vals["rows_in"]
            m.start_offset = vals["lo"]
            m.end_offset = vals["hi"]
            valid = _obs_row(obs_valid).get("valid") or 0
            out = _obs_row(obs_out)
            m.deletes = out.get("deletes") or 0
            m.upserts = (out.get("n_out") or 0) - m.deletes
            m.invalid = vals["rows_in"] - valid
            m.dedup_dropped = valid - (out.get("n_out") or 0)
            if self.expectations:
                dropped = 0
                for i, (name, _pred, action) in enumerate(self.expectations):
                    n = out.get(f"exp_{i}") or 0
                    m.expectation_failures[name] = n
                    if action == "fail" and n > 0:
                        exp_fail_holder.append(f"{name} ({n} rows)")
                    elif action == "drop":
                        dropped += n
                m.upserts -= dropped  # merged upserts, post-drop
                if exp_fail_holder:
                    return False  # abort pre-publish; raised below
            if detect_drift and self.auto_evolve:
                drift_holder.extend(
                    sorted(
                        {k for arr in vals.get("drift_keys") or [] for k in arr}
                    )
                )
                return not drift_holder
            return True

        res = self.table.merge(
            deduped.withColumn("__del", F.col("op") == "D").drop(
                "op", self.order
            ),
            epoch=epoch,
            delete_col="__del",
            pre_commit=pre_commit,
        )
        if exp_fail_holder:
            # the abort already discarded the stage pre-publish; reclaim
            # its files immediately (this is the pipeline's own decision,
            # like the drift abort) and fail loudly — the epoch replays
            # after the producer fix
            if res.get("orphaned_dir"):
                self.table._discard_commit_dir(res["orphaned_dir"])
            raise ExpectationFailed(
                f"epoch {epoch} aborted: expectation(s) violated — "
                + "; ".join(exp_fail_holder)
            )
        if drift_holder:
            res["drift_keys"] = drift_holder
        return res

    # ------------------------------------------------------------------ run
    def available_epochs(self) -> List[int]:
        df = self._read_changes()
        return sorted(
            r["epoch"] for r in df.select("epoch").distinct().collect()
        )

    def run(self, max_epochs: Optional[int] = None) -> List[EpochMetrics]:
        """Replay all uncommitted epochs in order. Resumable: starts after
        the table's last committed epoch."""
        done = self.last_committed_epoch()
        todo = [e for e in self.available_epochs() if e > done]
        if max_epochs is not None:
            todo = todo[:max_epochs]
        return [self.apply_epoch(e) for e in todo]

    def run_wap(
        self,
        audit,
        branch: str = "wap-audit",
        max_epochs: Optional[int] = None,
    ) -> dict:
        """Write-audit-publish replay (Iceberg's WAP pattern as a pipeline
        mode): every uncommitted epoch is staged on a BRANCH, the ``audit``
        callable runs against the branch table (row-count deltas, quality
        gates, decontamination checks — anything readable), and only a
        passing audit fast-forwards main. Main readers never see an
        unaudited epoch; a failing audit costs a branch drop (staged files
        go to the next orphan sweep) and main is byte-untouched.

        ``audit(branch_table) -> bool``; an exception fails the audit and
        propagates after the branch is dropped. A leftover branch of the
        same name (a crashed prior run: staged but never audited) is
        dropped and re-staged from the current head — recomputation is
        safe because unpublished commits were never visible. Single WAP
        runner per branch name, same as the engine's single-writer default
        (racing writers resolve at publish via the create-exclusive
        primitive).

        Inline GC (``gc_keep_snapshots``) is suspended during staging (a
        main-only operation) and runs once on main after a successful
        publish. Quarantine commits (a side table) land during staging
        regardless of the audit outcome — dead letters stay recorded, and
        a re-stage skips them exactly-once."""
        main = self.table
        try:
            b = main.create_branch(branch)
        except CommitConflict:
            main.drop_branch(branch)
            b = main.create_branch(branch)
        gc_keep, self.gc_keep_snapshots = self.gc_keep_snapshots, None
        self.table = b
        try:
            try:
                metrics = self.run(max_epochs=max_epochs)
            finally:
                self.table = main
                self.gc_keep_snapshots = gc_keep
            if not metrics:
                main.drop_branch(branch)
                return {"published": False, "epochs": [], "reason": "no new epochs"}
            ok = bool(audit(b))
        except BaseException:
            main.drop_branch(branch)
            raise
        epochs = [m.epoch for m in metrics]
        if not ok:
            main.drop_branch(branch)
            return {"published": False, "epochs": epochs, "reason": "audit failed"}
        r = main.fast_forward(branch)
        main.drop_branch(branch)
        if self.gc_keep_snapshots:
            main.expire_snapshots(keep_last=self.gc_keep_snapshots)
        return {
            "published": True,
            "epochs": epochs,
            "published_versions": r["published_versions"],
        }
