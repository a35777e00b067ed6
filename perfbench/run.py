"""Benchmark of the CDC engine, one workload per run.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root; it builds nothing and reads the engine
package from there. Set-up generates the inputs from ``--seed`` and warms
the JVM, then the timed window runs closed-loop rounds for ``--seconds``
(bulk: one whole backfill; trickle: at least its minimum round count),
then the window is checked for trend and the outputs against references
that share no code with the engine.

The last line of standard output is one JSON object: ``correct``,
``attempted`` (timed operations), ``failed`` (failed checks) and
``metrics``, which are the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``. The line before it carries the
detail: every timed sample, the no-trend check, the output checks, the host
sentinel and the warm-up curve. Traced runs also write their spans to
``.perfbench_out/``. All scratch data lives in ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "embulk_filter_expand_json_spark"
CORES = 4


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["replay_bulk", "replay_trickle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(
            f"perfbench: no {PACKAGE} package under {root}; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # Spark prefers this variable to spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path[:0] = [HERE, root]

    from harness import RssSampler, Tracer, build_session, stop_session
    from workloads import WORKLOADS

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else None
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, tracer)
    t0 = time.perf_counter()
    try:
        with RssSampler(os.getpid()) as rss:
            # the documents are generated in Python while the JVM starts;
            # the change logs need the session (``sources.changegen``)
            with ThreadPoolExecutor(1) as pool:
                generated = pool.submit(wl.generate)
                spark = build_session(root, work, min(CORES, os.cpu_count() or CORES))
                try:
                    generated.result()
                    spark.sparkContext.setLogLevel("ERROR")
                    session_s = time.perf_counter() - t0
                    wl.run(spark)
                    metrics = wl.per_layer() if tracer else wl.end_to_end()
                finally:
                    t1 = time.perf_counter()
                    stop_session(spark)
                    stop_s = time.perf_counter() - t1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = wl.info
    info["start_s"] = session_s  # JVM start, document generation overlapped
    info["stop_s"] = stop_s
    info["run_s"] = time.perf_counter() - t0
    setup_s = session_s + info.pop("setup_work_s")
    if not tracer:
        metrics["setup_s"] = (setup_s, "s")
        metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
    else:
        info["setup_s"] = setup_s
        info["peak_rss_mb"] = rss.peak_mb
        tracer.dump(os.path.join(root, ".perfbench_out", f"spans-{run_id}.jsonl"))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "checks": wl.checks, "detail": info}, default=str))
    print(json.dumps({
        "correct": wl.failed == 0 and bool(wl.checks),
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
