"""The two workloads: a bulk backfill and steady-state trickle.

Both are closed loops driven from this one process: each operation starts
when the previous one has returned. A *round* is one commit
(``CdcPipeline.apply_epoch``) followed by what users of the table do next:
a replica catches up through the change feed (``replicate``), a reader
issues hot-key and cold-key point lookups (``SnapTable.lookup``), and the
JSON-expansion operator runs once per forced mode on a lineitem-shaped
batch with a noop sink.

The workloads differ in what the commits meet:

* ``replay_bulk`` backfills a Debezium dump into an empty table, the
  sequence ``jobs/replay.py --input-format debezium`` runs: decode and
  stage the whole dump, then replay it epoch by epoch. The first epoch
  is a first load that takes the schema-drift detour (``lang``); the
  later ones rewrite every bucket.
* ``replay_trickle`` tails small epochs onto a table that warm-up has
  loaded to its plateau size, with snapshot GC on.

Warm-up runs three rounds of the window's shape first; the window's own
no-trend check then shows whether the JVM had settled.
"""

from __future__ import annotations

import os
import random
import time
from typing import NamedTuple

from pyspark.sql import functions as F

from harness import (
    JvmProbe,
    burn_s,
    cpu_times,
    dur,
    median,
    steal_pct,
    tree_cpu_s,
    trend,
)
import inputs

NUM_BUCKETS = 8  # sized to the data, as bench.py sizes cdc_replay's table
# the no-trend check judges only operations during which the host stole at
# most this share of its CPU time: under a noisy neighbour the process's
# own CPU time swells too (measured on a 4-core VM: 12.9 s per trickle
# round at 0.2% steal, 17.9 s at 15%), so those samples cannot tell a
# warming JVM from a busy host
CALM_STEAL_PCT = 2.0


class Sample(NamedTuple):
    start: float
    kind: str
    wall: float
    cpu: float  # process-tree CPU seconds
    steal: float  # % of the host's CPU time stolen meanwhile
    traced: bool
    round: int


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Stream:
    """One change log on its way into one table, with a replica that
    follows it: the state a round advances."""

    def __init__(self, spark, work: str, env: str, events: list, epoch_of,
                 extra_keys, epoch_expr, **pipeline_args):
        from embulk_filter_expand_json_spark.streaming.pipeline import CdcPipeline

        self.spark = spark
        self.env = env
        self.events = events
        self.epoch_of = epoch_of
        self.extra_keys = extra_keys
        self.epoch_expr = epoch_expr
        self.decoded = f"{work}/decoded"
        self.replica = f"{work}/replica"
        self.pipe = CdcPipeline(
            spark, self.decoded, f"{work}/table", num_buckets=NUM_BUCKETS,
            changelog=True, **pipeline_args,
        )
        self.next_epoch = 0

    def decode(self) -> None:
        """Decode the Debezium dump and stage the canonical change log."""
        from embulk_filter_expand_json_spark.sources import envelopes

        raw = self.spark.read.parquet(self.env)
        envelopes.write_envelope_changes(
            envelopes.decode_envelope(raw, "debezium", epoch_expr=self.epoch_expr),
            self.decoded,
        )

    def events_in(self, epochs) -> int:
        epochs = set(epochs)
        return sum(1 for off, _, _ in self.events if self.epoch_of(off) in epochs)


class Workload:
    """Shared loop: set-up, warm-up, timed window, checks, metrics."""

    name = ""
    # untimed rounds before the window: in test runs the third already
    # cost no more CPU than the window's rounds, and a fourth does not fit
    # the run's time
    warmup_rounds = 3
    lookups = (True, False)  # hot or cold, per round
    keys_per_lookup = 4
    doc_rows = 10_000

    def __init__(self, work: str, seed: int, seconds: float, tracer):
        self.work = work
        self.docs = f"{work}/docs"
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.samples: list = []  # Sample
        self.rounds: list = []  # (traced, epoch, wall, cpu, jit, codegen, steal %)
        self.applied: list = []  # (epoch, seconds) of timed commits
        self.lookup_rows: list = []  # (epoch, keys, rows)
        self.decode_s: list = []
        self.jobs_per_epoch: list = []
        self.attempted = 0
        self.failed = 0
        self.checks: dict = {}
        self.info: dict = {}
        self._traced = False
        self._round = None
        self._first_pass: dict = {}

    # ------------------------------------------------------------ helpers
    def op(self, kind: str, fn, timed: bool):
        cpu0, host0 = (tree_cpu_s(self.pid), cpu_times()) if timed else (0.0, None)
        t0 = time.perf_counter()
        if self._traced:
            with self.tracer.span(kind):
                out = fn()
        else:
            out = fn()
        dt = time.perf_counter() - t0
        if timed:
            self.samples.append(Sample(
                t0, kind, dt, tree_cpu_s(self.pid) - cpu0, steal_pct(host0, cpu_times()),
                self._traced, self._round,
            ))
            self.attempted += 1
        return out, dt

    def values(self, kind: str, traced=None) -> list:
        return [
            x.wall for x in self.samples
            if x.kind == kind and (traced is None or x.traced == traced)
        ]

    def key_set(self, hot: bool) -> list:
        """Hot keys are the head of the Zipf key distribution; cold keys
        come from its upper half."""
        lo, hi = (0, 16) if hot else (self.n_docs // 2, self.n_docs)
        idx = self.rng.sample(range(lo, hi), self.keys_per_lookup)
        return [f"doc-{j:08d}" for j in idx]

    def round(self, s: Stream, timed: bool) -> None:
        """One commit and its followers."""
        from embulk_filter_expand_json_spark.operators import expand
        from embulk_filter_expand_json_spark.streaming import replicate

        e = s.next_epoch
        s.next_epoch += 1
        sc = self.spark.sparkContext
        group = f"perfbench-epoch-{e}"
        if self._traced:
            sc.setJobGroup(group, "perfbench epoch")
        m, dt = self.op("epoch", lambda: s.pipe.apply_epoch(e), timed)
        if self._traced:
            self.jobs_per_epoch.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if m.skipped:
            raise RuntimeError(f"epoch {e} was skipped")
        if timed:
            self.applied.append((e, dt))

        r, _ = self.op(
            "feed", lambda: replicate.replicate(self.spark, s.pipe.table, s.replica), timed
        )
        # a replica's first catch-up copies the table (untimed); every later
        # one must consume the change feed
        if timed and r["mode"] != "incremental":
            raise RuntimeError(f"replica took the {r['mode']} path")

        for hot in self.lookups:
            keys = self.key_set(hot)
            rows, _ = self.op("lookup", lambda: s.pipe.table.lookup(keys).collect(), timed)
            if timed:
                self.lookup_rows.append((e, keys, rows))

        # timed rounds run each mode twice: one pass is short enough (about
        # 0.3 s) that a single slow pass moved a run's median of three
        docs = self.spark.read.parquet(self.docs)
        for mode in ("catalyst", "arrow") * (2 if timed else 1):
            _, dt = self.op(
                f"expand_{mode}",
                lambda: noop(expand.expand_json(docs, inputs.EXPAND_CONFIG, mode=mode)),
                timed,
            )
            self._first_pass.setdefault(mode, dt)

    # --------------------------------------------------------------- run
    def run(self, spark) -> None:
        """Everything after the session is up: inputs, set-up, warm-up, the
        timed window, the checks and, in traced runs, the probes."""
        self.spark = spark
        self.pid = os.getpid()
        self.jvm = JvmProbe(spark)
        t0 = time.perf_counter()
        self.setup()
        self.info["inputs_setup_s"] = time.perf_counter() - t0
        self.warm_up()
        self.stream = self.timed_stream()
        self.info["setup_work_s"] = time.perf_counter() - t0
        self.window()
        t0 = time.perf_counter()
        self.check()
        self.info["check_s"] = time.perf_counter() - t0
        if self.tracer is not None:
            self.probes()

    def measured_round(self, s: Stream, timed: bool) -> tuple:
        """A round with its epoch, and its wall, CPU, JIT compile and steal
        totals and the Spark codegen compiles it caused."""
        jvm = self.jvm
        e = s.next_epoch
        t0, c0, j0, g0, h0 = (
            time.perf_counter(), tree_cpu_s(self.pid), jvm.jit_s(),
            jvm.codegen_compiles(), cpu_times(),
        )
        self.round(s, timed)
        return (
            e, time.perf_counter() - t0, tree_cpu_s(self.pid) - c0, jvm.jit_s() - j0,
            jvm.codegen_compiles() - g0, steal_pct(h0, cpu_times()),
        )

    def warm_up(self) -> None:
        """Untimed rounds of the window's shape, each with its CPU, JIT and
        codegen totals in the detail so that any drift shows."""
        self.info["warmup_rounds"] = [
            [round(v, 3) for v in self.measured_round(self.warm_stream(), timed=False)]
            for _ in range(self.warmup_rounds)
        ]

    def window(self) -> None:
        s = self.stream
        host0, cpu0 = cpu_times(), tree_cpu_s(self.pid)
        jit0, gc0, cg0 = self.jvm.jit_s(), self.jvm.gc_s(), self.jvm.codegen_compiles()
        burn = [burn_s()]
        t_start = time.perf_counter()
        self.start_window(s)
        i = 0
        while self.more(s, i, time.perf_counter() - t_start):
            # traced runs alternate traced and plain rounds; their walls
            # give the tracing overhead
            self._traced = self.tracer is not None and i % 2 == 0
            self._round = i
            if self._traced:
                self.tracer.install()
            try:
                self.rounds.append((self._traced, *self.measured_round(s, timed=True)))
            finally:
                if self._traced:
                    self.tracer.uninstall()
            self._traced = False
            i += 1
        self.info["window_s"] = time.perf_counter() - t_start
        self.info["window_rounds"] = [[round(v, 3) for v in r[1:]] for r in self.rounds]
        self.info["jit_compile_s"] = self.jvm.jit_s() - jit0
        self.info["gc_s"] = self.jvm.gc_s() - gc0
        self.info["code_cache_mb"] = self.jvm.code_cache_mb()
        self.info["codegen_compiles"] = self.jvm.codegen_compiles() - cg0
        self.info["host_cpu_s"] = tree_cpu_s(self.pid) - cpu0
        self.info["host_steal_pct"] = steal_pct(host0, cpu_times())
        burn.append(burn_s())
        self.info["host_burn_s"] = median(burn)

    def generate(self) -> None:
        """Inputs that need no session, made while the JVM starts."""
        inputs.write_lineitem_docs(self.docs, self.seed, self.doc_rows)

    def setup(self) -> None:
        """Set-up work on the session, before warm-up."""

    def steady(self, rnd, kind: str) -> bool:
        """Whether a sample does the same work in every round, so that the
        no-trend check may compare it across the window."""
        return True

    def start_window(self, s: Stream) -> None:
        """Timed work that precedes the first round."""

    # ------------------------------------------------------------ checks
    def verdict(self, name: str, ok: bool) -> None:
        self.checks[name] = self.checks.get(name, True) and ok
        if not ok:
            self.failed += 1

    def check(self) -> None:
        """Outside the timed window: the window has no trend; the table
        equals the oracle, the replica the table, every lookup the oracle
        at its epoch (the last also a plain read); both expansion modes
        agree with each other and with DuckDB."""
        from embulk_filter_expand_json_spark.operators import expand
        from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable

        # traced rounds carry the tracer's cost, so they form kinds of
        # their own
        steady = [
            (x.start, f"{x.kind} traced" if x.traced else x.kind, x.wall, x.cpu)
            for x in self.samples
            if self.steady(x.round, x.kind) and x.steal <= CALM_STEAL_PCT
        ]
        self.info["trend"] = trend([(t, k, c) for t, k, _, c in steady])
        self.info["trend_wall"] = trend([(t, k, w) for t, k, w, _ in steady])
        self.info["trend"]["steal_skipped"] = sum(
            self.steady(x.round, x.kind) and x.steal > CALM_STEAL_PCT for x in self.samples
        )
        if self.info["trend"]["ok"] is not None:
            self.verdict("window_no_trend", self.info["trend"]["ok"])

        s = self.stream
        oracle = inputs.Oracle(s.events, s.epoch_of, s.extra_keys)
        state = inputs.rows_state(s.pipe.table.read().collect(), s.extra_keys)
        self.verdict("table_matches_oracle", state == oracle.state(s.next_epoch - 1))
        replica = SnapTable(self.spark, s.replica).read().collect()
        self.verdict("replica_matches_table", inputs.rows_state(replica, s.extra_keys) == state)
        for epoch, keys, rows in self.lookup_rows:
            self.verdict(
                "lookups_match_oracle",
                inputs.rows_state(rows, s.extra_keys) == oracle.state(epoch, keys),
            )
        _, keys, rows = self.lookup_rows[-1]
        read = s.pipe.table.read().filter(F.col("doc_id").isin(keys)).collect()
        self.verdict(
            "lookup_matches_table_read",
            inputs.rows_state(rows, s.extra_keys) == inputs.rows_state(read, s.extra_keys),
        )

        docs = self.spark.read.parquet(self.docs)
        cat = expand.expand_json(docs, inputs.EXPAND_CONFIG, mode="catalyst")
        arr = expand.expand_json(docs, inputs.EXPAND_CONFIG, mode="arrow")
        self.verdict("expand_modes_identical", inputs.frame_digest(cat) == inputs.frame_digest(arr))
        bad = inputs.duckdb_mismatches(cat, self.docs, f"{self.work}/duckdb_check")
        self.verdict("expand_matches_duckdb", bad == 0)

    # ------------------------------------------------------------ probes
    def probes(self) -> None:
        """Traced runs only, after the checks: single-layer calls that the
        loop cannot time from outside."""
        from embulk_filter_expand_json_spark.operators import expand
        from embulk_filter_expand_json_spark.operators.dedup_lww import lww_dedup
        from pyspark.sql import types as T

        s = self.stream
        docs = self.spark.read.parquet(self.docs)
        plan, floor = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            expand.expand_json(docs, inputs.EXPAND_CONFIG, mode="catalyst")._jdf.queryExecution().executedPlan()
            plan.append(time.perf_counter() - t0)
        doc_only = docs.select("doc")
        for _ in range(3):
            t0 = time.perf_counter()
            noop(doc_only.mapInArrow(lambda it: it, doc_only.schema))
            floor.append(time.perf_counter() - t0)
        self.info["probe_plan_s"] = plan
        self.info["probe_arrow_floor_s"] = floor

        # LWW alone over one expanded epoch slice, typed as the pipeline
        # types it
        cfg = {
            "json_column_name": "payload",
            "expanded_columns": [
                {"name": "doc_id", "type": "string"},
                {"name": "tokens", "type": "json"},
                {"name": "n_tok", "type": "long"},
                {"name": "source", "type": "string"},
            ],
            "malformed_json_policy": "invalid_record",
        }
        sl = self.spark.read.parquet(s.decoded).filter(F.col("epoch") == 1)
        typed = expand.expand_json(sl, cfg, mode="catalyst", fan_out=False).select(
            "log_offset",
            "op",
            "doc_id",
            F.from_json("tokens", T.ArrayType(T.IntegerType())).alias("tokens"),
            F.col("n_tok").cast("int").alias("n_tok"),
            "source",
        ).filter(F.col("doc_id").isNotNull())
        for strategy in ("agg", "window"):
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                noop(lww_dedup(typed, key="doc_id", order="log_offset", strategy=strategy))
                ts.append(time.perf_counter() - t0)
            self.info[f"probe_lww_{strategy}_s"] = ts

    # ----------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        s = self.stream
        rows = self.doc_rows
        epochs = [e for e, _ in self.applied]
        ingest = sum(dt for _, dt in self.applied) + sum(self.values("decode"))
        kinds = ("decode", "epoch", "feed", "lookup", "expand_catalyst", "expand_arrow")
        self.info["samples_s"] = {k: [round(v, 4) for v in self.values(k)] for k in kinds}
        self.info["samples_cpu_steal"] = {
            k: [(round(x.cpu, 2), round(x.steal, 1)) for x in self.samples if x.kind == k]
            for k in kinds
        }
        return {
            "events_per_s": (s.events_in(epochs) / ingest, "changes/s"),
            "epoch_p50_s": (median(self.values("epoch")), "s"),
            "feed_catchup_p50_s": (median(self.values("feed")), "s"),
            "lookup_p50_s": (median(self.values("lookup")), "s"),
            "expand_catalyst_rows_per_s": (rows / median(self.values("expand_catalyst")), "rows/s"),
            "expand_arrow_rows_per_s": (rows / median(self.values("expand_arrow")), "rows/s"),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        residual, drift, committed, aborted, n_merges = [], [], [], 0, 0
        probe = {p["id"] for p in tr.named("probe.drift")}
        for e in tr.named("CdcPipeline.apply_epoch"):
            merges = tr.children(e, "SnapTable.merge")
            n_merges += len(merges)
            for j, m in enumerate(merges):
                if m["attrs"]["aborted"]:
                    aborted += 1
                    nxt = merges[j + 1]["start"] if j + 1 < len(merges) else m["end"]
                    drift.append(nxt - m["start"])  # the aborted merge + evolve
                elif e["parent"] not in probe:
                    committed.append(m["attrs"])
            if e["parent"] not in probe:
                residual.append(dur(e) - sum(dur(m) for m in merges))
        rep_merge, rep_read = [], []
        for r in tr.named("replicate"):
            ms = sum(dur(m) for m in tr.children(r, "SnapTable.merge"))
            rep_merge.append(ms)
            rep_read.append(dur(r) - ms)

        def phase(key):
            return [c["timings"][key] for c in committed if key in c["timings"]]

        # bulk's first round is the only first load: leave it out
        rounds = self.rounds[1:] if isinstance(self, Bulk) else self.rounds
        traced = [r[2] for r in rounds if r[0]]
        plain = [r[2] for r in rounds if not r[0]]
        info = self.info
        layer = {
            "envelopes.decode_s": (self.decode_s, "s"),
            "expand.catalyst_warm_s": (self.values("expand_catalyst"), "s"),
            "expand.arrow_warm_s": (self.values("expand_arrow"), "s"),
            "expand.cold_s": ([sum(self._first_pass.values())], "s"),
            "expand.plan_s": (info["probe_plan_s"], "s"),
            "expand.arrow_floor_s": (info["probe_arrow_floor_s"], "s"),
            "lww.agg_s": (info["probe_lww_agg_s"], "s"),
            "lww.window_s": (info["probe_lww_window_s"], "s"),
            "pipeline.residual_s": (residual, "s"),
            "pipeline.drift_redo_s": (drift, "s"),
            "snaptable.stage_s": (phase("stage_sec"), "s"),
            "snaptable.decide_s": (phase("decide_sec"), "s"),
            "snaptable.rewrite_s": (phase("rewrite_sec"), "s"),
            "snaptable.publish_s": (phase("publish_sec"), "s"),
            "snaptable.merges": ([n_merges], "count"),
            "snaptable.merges_aborted": ([aborted], "count"),
            "snaptable.buckets_touched": ([c["buckets_touched"] for c in committed], "count"),
            "snaptable.files_rewritten": ([c["files_rewritten"] for c in committed], "count"),
            "snaptable.bytes_written": ([c["bytes_written"] for c in committed], "bytes"),
            "snaptable.lookup_s": (self.values("lookup", traced=True), "s"),
            "replicate.merge_s": (rep_merge, "s"),
            "replicate.read_s": (rep_read, "s"),
            "spark.jobs_per_epoch": (self.jobs_per_epoch, "count"),
            "spark.codegen_compiles": ([info["codegen_compiles"]], "count"),
            "jvm.jit_compile_s": ([info["jit_compile_s"]], "s"),
            "jvm.gc_s": ([info["gc_s"]], "s"),
            "host.steal_pct": ([info["host_steal_pct"]], "%"),
            "host.cpu_s": ([info["host_cpu_s"]], "s"),
            "host.burn_s": ([info["host_burn_s"]], "s"),
            "trace.overhead_pct": (
                [100.0 * (median(traced) / median(plain) - 1.0)] if traced and plain else [],
                "%",
            ),
        }
        info["layer_samples"] = {k: len(v) for k, (v, _) in layer.items()}
        missing = [k for k, (v, _) in layer.items() if not v]
        if missing:
            raise RuntimeError(f"no samples for per-layer metrics {missing}")
        return {k: (median(v), unit) for k, (v, unit) in layer.items()}


class Bulk(Workload):
    """The timed window is one whole backfill of the dump into an empty
    table: decode, then every epoch. Warm-up runs whole backfills of the
    same dump into tables of its own."""

    name = "replay_bulk"
    epochs, epoch_events = 3, 6_000

    def setup(self) -> None:
        self.n_docs = self.epochs * self.epoch_events // 20
        log, self.events = inputs.change_log(
            self.spark, self.seed, self.epochs * self.epoch_events, self.n_docs
        )
        inputs.write_envelopes(log, f"{self.work}/envelopes")
        self.backfills = 0
        self.warm = None

    def new_stream(self) -> Stream:
        """A backfill into a fresh table, with a replica that starts from
        the empty table, so that every catch-up consumes the change feed."""
        from embulk_filter_expand_json_spark.streaming import replicate

        step = self.epoch_events
        self.backfills += 1
        s = Stream(
            self.spark, f"{self.work}/backfill-{self.backfills}", f"{self.work}/envelopes",
            self.events, lambda off: off // step, ("lang",),
            F.floor(F.col("log_offset") / F.lit(step)),
        )
        replicate.replicate(self.spark, s.pipe.table, s.replica)
        return s

    def warm_stream(self) -> Stream:
        if self.warm is None or self.warm.next_epoch >= self.epochs:
            self.warm = self.new_stream()
            self.warm.decode()
        return self.warm

    def timed_stream(self) -> Stream:
        return self.new_stream()

    def steady(self, rnd, kind: str) -> bool:
        # the first round's commit is a first load with the drift detour,
        # unlike the later rounds; the JIT compiles the code it generated
        # while the rest of that round runs, so the whole round is left out
        return rnd not in (None, 0)

    def start_window(self, s: Stream) -> None:
        _, dt = self.op("decode", s.decode, timed=True)
        self.decode_s.append(dt)

    def more(self, s: Stream, i: int, elapsed: float) -> bool:
        return s.next_epoch < self.epochs


class Trickle(Workload):
    """The timed window runs rounds for the requested seconds."""

    name = "replay_trickle"
    base_events, epoch_events = 10_000, 5_000
    min_rounds, max_rounds = 3, 4
    gc_keep_snapshots = 4

    def setup(self) -> None:
        base, step = self.base_events, self.epoch_events
        self.n_docs = base // 20
        # epoch 0 is the base load, 1 .. warmup_rounds + max_rounds - 1
        # feed warm-up and window, and the one after them carries DRIFT_KEY
        # for the traced drift probe
        self.drift_epoch = self.warmup_rounds + self.max_rounds
        lo = base + (self.drift_epoch - 1) * step
        log, events = inputs.change_log(
            self.spark, self.seed, lo + step, self.n_docs, drift_offsets=(lo, lo + step)
        )
        inputs.write_envelopes(log, f"{self.work}/envelopes")
        off = F.col("log_offset")
        s = Stream(
            self.spark, f"{self.work}/live", f"{self.work}/envelopes", events,
            lambda o: 0 if o < base else 1 + (o - base) // step,
            ("lang", inputs.DRIFT_KEY),
            F.when(off < base, F.lit(0)).otherwise(F.floor((off - F.lit(base)) / F.lit(step)) + 1),
            gc_keep_snapshots=self.gc_keep_snapshots,
        )
        t0 = time.perf_counter()
        s.decode()
        self.decode_s.append(time.perf_counter() - t0)
        # the first warm-up round loads the base epoch, which holds nearly
        # every key of the log: later epochs meet a table at its plateau
        self.live = s

    def warm_stream(self) -> Stream:
        return self.live

    def timed_stream(self) -> Stream:
        return self.live

    def more(self, s: Stream, i: int, elapsed: float) -> bool:
        return i < self.min_rounds or (elapsed < self.seconds and i < self.max_rounds)

    def probes(self) -> None:
        """Also a commit whose payloads carry a key the table lacks: the
        drift detour a live table meets now and then, traced on its own
        so that it stays out of the window."""
        super().probes()
        self.tracer.install()
        try:
            with self.tracer.span("probe.drift"):
                self.live.pipe.apply_epoch(self.drift_epoch)
        finally:
            self.tracer.uninstall()


WORKLOADS = {w.name: w for w in (Bulk, Trickle)}
