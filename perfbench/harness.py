"""Measurement plumbing shared by the workloads: the Spark session, JVM and
host probes, sample statistics and the span tracer.

Nothing here touches the engine's behaviour. The tracer wraps the engine's
public entry points from outside, and only while a traced round runs.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

# ----------------------------------------------------------------- session


def build_session(root: str, work: str, cores: int):
    """One local Spark session, the same for every workload.

    Every scratch location points inside ``work`` so that a run reads and
    writes only inside the checkout. The Python workers get the checkout on
    their path through the session itself: patching ``sys.path`` in this
    process does not reach them, and a forced ``arrow`` expansion then fails
    with ModuleNotFoundError."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores * 2))
        .config("spark.driver.memory", "1g")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
            f"-Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", root)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


class JvmProbe:
    """Cumulative JVM counters read through py4j: JIT compile time, GC
    time and Spark's whole-stage codegen compile count."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._pools = list(mf.getMemoryPoolMXBeans())

    def jit_s(self) -> float:
        return self._comp.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def codegen_compiles(self) -> int:
        return self._codegen.METRIC_COMPILATION_TIME().getCount()

    def code_cache_mb(self) -> float:
        return sum(
            p.getUsage().getUsed() for p in self._pools if "ode" in p.getName()
        ) / 2**20


# -------------------------------------------------------------------- host


def _read_stat(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    rest = s[s.rindex(")") + 2 :].split()
    # fields after "(comm)": state ppid ... utime(12) stime(13) ...
    return int(rest[1]), int(rest[11]) + int(rest[12])


def _pss_kb(pid: str) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n in each. Summed over a tree of forked Python
    workers it counts their shared pages once, where RSS counts them in
    every worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def process_tree(root_pid: int) -> list:
    """PIDs of ``root_pid`` and all its descendants (here: the JVM it
    launched and the Python workers)."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, _ = _read_stat(name)
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of the live process tree."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree(root_pid):
        try:
            total += _read_stat(str(p))[1]
        except (OSError, ValueError, IndexError):
            continue
    return total / tick


class RssSampler:
    """Background sampler of the process tree's resident memory (summed
    PSS); keeps the peak. Sampling every 0.2 s reads a few dozen small
    /proc files."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kb = 0
        for p in process_tree(self.root_pid):
            try:
                kb += _pss_kb(str(p))
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_times() -> tuple:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple, after: tuple) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def burn_s(iterations: int = 300_000) -> float:
    """A fixed single-core loop: its wall time rises when the host is
    short of CPU (steal, throttling, neighbours)."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(iterations):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


# ------------------------------------------------------------- statistics


def median(values) -> float:
    return float(statistics.median(values))


def shift_pvalue(a, b) -> float:
    """Two-sided exact p-value of the Mann-Whitney U test that ``a`` and
    ``b`` come from one distribution (ties count half; no tie correction
    of the null distribution)."""
    m, n = len(a), len(b)
    u = sum((x > y) + 0.5 * (x == y) for x in a for y in b)

    @functools.lru_cache(maxsize=None)
    def ways(i: int, j: int, k: int) -> int:
        # orderings of i values of a and j of b in which k pairs have the
        # a value above the b value
        if k < 0:
            return 0
        if i == 0 or j == 0:
            return int(k == 0)
        return ways(i - 1, j, k - j) + ways(i, j - 1, k)

    tail = sum(ways(m, n, k) for k in range(int(min(u, m * n - u)) + 1))
    return min(1.0, 2.0 * tail / math.comb(m + n, m))


def trend(samples, tolerance: float = 0.10, alpha: float = 0.01, min_half: int = 3) -> dict:
    """No-trend check over the timed window. ``samples`` holds
    (start_time, kind, seconds); each sample is divided by the median of
    its kind, and the normalised series is split at its midpoint in time.
    The window has a trend when the second half's median differs from the
    first's by more than ``tolerance`` and a Mann-Whitney test finds the
    halves apart at level ``alpha``: a shift both material and beyond the
    samples' own scatter. The per-kind ratios of the halves are reported
    beside it. With fewer than ``min_half`` samples in a half, ``ok`` is
    None: not judged."""
    by_kind: dict = {}
    for _, kind, v in samples:
        by_kind.setdefault(kind, []).append(v)
    meds = {k: median(v) for k, v in by_kind.items()}
    norm = [v / meds[k] for _, k, v in sorted(samples) if meds[k] > 0]
    half = len(norm) // 2
    if half < min_half:
        return {"ok": None, "ratio": None, "n": len(norm)}
    first, second = norm[:half], norm[half:]
    ratio = median(second) / median(first)
    p = shift_pvalue(second, first)
    per_kind = {}
    for k in by_kind:
        vs = [v for _, kk, v in sorted(samples) if kk == k]
        h = len(vs) // 2
        if h and median(vs[:h]) > 0:
            per_kind[k] = round(median(vs[h:]) / median(vs[:h]), 3)
    return {
        "ok": not (abs(ratio - 1.0) > tolerance and p < alpha),
        "ratio": round(ratio, 4),
        "p": round(p, 4),
        "n": len(norm),
        "per_kind": per_kind,
    }


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans around the engine's public entry points, recorded from the
    benchmark's side: name, start, end, parent and run id, kept in memory
    and written out once at the end.

    ``install`` swaps each target for a timing wrapper (both the defining
    module and every module that imported the name), ``uninstall`` puts the
    originals back, so untraced rounds run the unmodified engine."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._saved: list = []

    def _targets(self):
        from embulk_filter_expand_json_spark.operators import dedup_lww, expand
        from embulk_filter_expand_json_spark.sources import envelopes
        from embulk_filter_expand_json_spark.streaming import (
            pipeline,
            replicate,
            snaptable,
        )

        return [
            (pipeline.CdcPipeline, "apply_epoch", "CdcPipeline.apply_epoch"),
            (snaptable.SnapTable, "merge", "SnapTable.merge"),
            (snaptable.SnapTable, "lookup", "SnapTable.lookup"),
            (snaptable.SnapTable, "read_changes", "SnapTable.read_changes"),
            (replicate, "replicate", "replicate"),
            (expand, "expand_json", "expand_json"),
            (pipeline, "expand_json", "expand_json"),
            (dedup_lww, "lww_dedup", "lww_dedup"),
            (pipeline, "lww_dedup", "lww_dedup"),
            (envelopes, "decode_envelope", "decode_envelope"),
            (envelopes, "write_envelope_changes", "write_envelope_changes"),
        ]

    @contextmanager
    def span(self, name: str):
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        if name == "SnapTable.merge":

            def merge(table, *a, **kw):
                before = {f["path"]: f for f in table.manifest()["files"]}
                with tracer.span(name) as rec:
                    res = fn(table, *a, **kw)
                after = table.manifest()["files"]
                rec["attrs"].update(
                    aborted=bool(res.get("aborted")),
                    skipped=bool(res.get("skipped")),
                    timings=dict(res.get("timings") or {}),
                    buckets_touched=res.get("buckets_touched", 0),
                    files_rewritten=res.get("files_rewritten", 0),
                    bytes_written=sum(
                        f.get("bytes", 0) for f in after if f["path"] not in before
                    ),
                )
                return res

            return merge

        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    def install(self) -> None:
        if self._saved:
            raise RuntimeError("tracer already installed")
        for owner, attr, name in self._targets():
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved = []

    def children(self, rec: dict, name: str) -> list:
        return [s for s in self.spans if s["parent"] == rec["id"] and s["name"] == name]

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def dur(span: dict) -> float:
    return span["end"] - span["start"]
