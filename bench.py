"""Benchmark harness. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries:
- expand_catalyst / expand_arrow: the expansion operator's two physical
  strategies over the events table (the reference's benchmark workload
  shape — /root/reference/bench/run.sh: raw JSON lines -> 9 expanded cols).
- lww_agg / lww_window: the CDC dedup stage on its own.
- cdc_replay: the full engine — synthesize a change log sized to the SF,
  replay binlog -> expand -> dedup -> exactly-once MERGE; reports
  change-events/sec (the BASELINE.json target metric).
- feed_replicate: a downstream replica catching up on the table's change
  data feed (per-commit change batches -> exactly-once MERGE; replica was
  bootstrapped empty before the replay, so this is pure feed consumption).
- scd2_history: the other feed consumer — full retained feed -> SCD Type-2
  interval rows.
- envelope_decode: the binlog-envelope front-end (Debezium dump -> canonical
  changes; one codegen'd Project, the per-event cost every connector-fed
  deployment pays before LWW/merge).
- minhash_dedup / span_dedup: the dedup operators tracked round-over-round.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32) -> master local[N].
Extra JSON keys beyond the contract: events_per_sec (cdc replay throughput),
cpus (parallelism used) — the N vs 4N scaling-efficiency evidence recorded
in BASELINE.md compares them across core counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _burn_one(_: int) -> int:
    import hashlib

    h = hashlib.sha256(b"x")
    for _ in range(2_000_000):
        h = hashlib.sha256(h.digest())
    return 0


def _burn_probe() -> dict:
    """Host-state sentinel recorded alongside the numbers: this VM throttles
    CPU after sustained load (burst credits) and penalizes wide thread
    groups intermittently — rising burn walls mean the timings below
    understate the engine (see BASELINE.md scaling section)."""
    import multiprocessing as mp

    _one = _burn_one
    out = {}
    for n in (1, 32):
        with mp.Pool(n) as p:
            p.map(_one, range(n))
            t0 = time.time()
            p.map(_one, range(n))
            out[f"burn_{n}p_sec"] = round(time.time() - t0, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    burn = _burn_probe()

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        # ParallelGC: G1 contends at 32 allocation-heavy threads in one JVM
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # shuffle scratch on tmpfs when present (single shared ext4 disk
        # otherwise throttles shuffle-heavy stages)
        .config(
            "spark.local.dir",
            "/dev/shm/spark-bench"
            if os.path.isdir("/dev/shm")
            else "/tmp/spark-bench",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .appName("bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from embulk_filter_expand_json_spark import expand_json
    from embulk_filter_expand_json_spark.operators.dedup_lww import lww_dedup
    from embulk_filter_expand_json_spark.sources.changegen import (
        ChangeGenConfig,
        write_changes,
    )
    from embulk_filter_expand_json_spark.streaming.pipeline import CdcPipeline

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n_events_tbl = events.count()

    timings: dict = {}
    extras: dict = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    expand_cfg = {
        "json_column_name": "props",
        "expanded_columns": [{"name": "k", "type": "long"}],
    }

    timed(
        "expand_catalyst",
        lambda: expand_json(events, expand_cfg, mode="catalyst").agg(
            F.sum("k")
        ).collect(),
    )
    timed(
        "expand_arrow",
        lambda: expand_json(events, expand_cfg, mode="arrow").agg(
            F.sum("k")
        ).collect(),
    )
    # expansion at TPC-H lineitem width/scale (6M rows at sf1): JSON-ify four
    # columns, expand them back — the operator on the largest input table
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li_src = li.select(
        F.to_json(
            F.struct(
                F.col("l_orderkey").alias("ok"),
                F.col("l_linenumber").alias("ln"),
                F.col("l_returnflag").alias("rf"),
                F.col("l_linestatus").alias("ls"),
            )
        ).alias("payload")
    )
    li_cfg = {
        "json_column_name": "payload",
        "expanded_columns": [
            {"name": "ok", "type": "long"},
            {"name": "ln", "type": "long"},
            {"name": "rf", "type": "string"},
            {"name": "ls", "type": "string"},
        ],
    }
    li_src.count()  # materialize input stats outside the timing
    timed(
        "expand_lineitem",
        lambda: expand_json(li_src, li_cfg, mode="catalyst").agg(
            F.sum("ok")
        ).collect(),
    )

    lww_in = events.select("user_id", "event_id", "event_type", "value")
    timed(
        "lww_agg",
        lambda: lww_dedup(lww_in, key="user_id", order="event_id", strategy="agg")
        .agg(F.count("*"))
        .collect(),
    )
    timed(
        "lww_window",
        lambda: lww_dedup(
            lww_in, key="user_id", order="event_id", strategy="window"
        )
        .agg(F.count("*"))
        .collect(),
    )

    # --- analytics layer over the same events table ------------------------
    from embulk_filter_expand_json_spark.operators.sessions import (
        session_stats_chunked,
    )
    from embulk_filter_expand_json_spark.streaming.windowed import (
        windowed_counts,
    )

    timed(
        "sessionize",
        lambda: session_stats_chunked(events, chunk_hours=1)
        .agg(F.count("*"), F.sum("n_events"))
        .collect(),
    )
    timed(
        "windowed_counts",
        lambda: windowed_counts(events).agg(F.sum("n_events")).collect(),
    )

    # --- LLM-curation layer: MinHash+LSH near-dup detection ----------------
    # Tracks the dedup operators round-over-round the way cdc_replay tracks
    # the engine: shingle -> 64 minhashes -> 16-band LSH bucket join ->
    # exact shingle-Jaccard verification on candidates (the same pipeline
    # the contract's minhash_near_dups query hard-verifies at sf0.01).
    from embulk_filter_expand_json_spark.operators.dedup_text import (
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.count()  # materialize input stats outside the timing
    n_pairs = timed(
        "minhash_dedup",
        lambda: minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, threshold=0.8, verify="exact"
        ).count(),
    )
    extras["minhash_pairs"] = n_pairs

    # exact duplicate-substring detection (Lee et al. token windows):
    # window-hash aggregate + semi-join + island merge, pure Catalyst
    from embulk_filter_expand_json_spark.operators.dedup_text import (
        duplicate_spans,
    )

    n_spans = timed(
        "span_dedup",
        lambda: duplicate_spans(docs, window=15).count(),
    )
    extras["dup_spans"] = n_spans

    # --- full CDC replay, the headline ------------------------------------
    n_changes = int(os.environ.get("SPARK_GRAFT_CDC_EVENTS", str(n_events_tbl * 5)))
    work = tempfile.mkdtemp(
        prefix="bench_cdc_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    try:
        cfg = ChangeGenConfig(
            n_events=n_changes,
            n_docs=max(n_changes // 20, 100),
            batch_size=max(n_changes // 8, 1000),
            seed=42,
        )
        log_path = os.path.join(work, "log")
        write_changes(spark, cfg, log_path)  # setup, not timed

        # binlog-envelope front-end: decode throughput over a Debezium-
        # enveloped copy of the same change log (materialized untimed so
        # the timed stage is decode alone — one codegen'd Project, the
        # stateless first stage every connector-fed deployment pays per
        # event before LWW/merge).
        from embulk_filter_expand_json_spark.sources.envelopes import (
            decode_debezium,
        )

        env_path = os.path.join(work, "envlog")
        spark.read.parquet(log_path).select(
            F.concat(
                F.lit('{"payload":{"op":"'),
                F.when(F.col("op") == "D", F.lit("d")).otherwise(F.lit("u")),
                F.lit('","source":{"lsn":'),
                F.col("log_offset").cast("string"),
                F.lit("},"),
                F.when(F.col("op") == "D", F.lit('"before":')).otherwise(
                    F.lit('"after":')
                ),
                F.col("payload"),
                F.lit("}}"),
            ).alias("value")
        ).write.mode("overwrite").parquet(env_path)
        env_df = spark.read.parquet(env_path)
        timed(
            "envelope_decode",
            lambda: decode_debezium(env_df, epoch_size=cfg.batch_size)
            .agg(F.count("log_offset"), F.max("epoch"))
            .collect(),
        )
        # bucket count sized to the DATA, not the core count: the SnapTable
        # design target is ~0.25-1 GB per bucket; at bench scale that means
        # few buckets (32 buckets x 8 epochs of ~700-row files is pure
        # file/commit churn). Overridable for experiments.
        n_buckets = int(
            os.environ.get(
                "SPARK_GRAFT_BUCKETS", str(max(8, min(32, n_changes // 60_000)))
            )
        )
        pipe = CdcPipeline(
            spark,
            log_path,
            os.path.join(work, "table"),
            num_buckets=n_buckets,
            # change data feed on: recording change entries is zero extra
            # writes by design (the staged files are retained, not copied),
            # so cdc_replay stays comparable to earlier records — and it
            # feeds the feed_replicate stage below
            changelog=True,
        )
        # bootstrap the replica on the still-empty table (untimed setup) so
        # the measured stage below is a PURE feed catch-up, no snapshot copy
        from embulk_filter_expand_json_spark.streaming.replicate import (
            replicate,
        )

        replica_path = os.path.join(work, "replica")
        replicate(spark, pipe.table, replica_path)

        t0 = time.time()
        pipe.run()
        dt = time.time() - t0
        timings["cdc_replay"] = round(dt, 3)
        extras["cdc_events"] = n_changes
        extras["events_per_sec"] = round(n_changes / dt, 1)
        extras["final_rows"] = pipe.table.read().count()

        # feed consumer path: the replica tails the table's change data
        # feed — per-commit change batches applied with the exactly-once
        # MERGE — the flagship table-as-a-source flow
        t0 = time.time()
        r = replicate(spark, pipe.table, replica_path)
        dt = time.time() - t0
        assert r["mode"] == "incremental", r
        timings["feed_replicate"] = round(dt, 3)
        extras["feed_rows"] = pipe.table.read_changes(0).count()

        # SCD2 history build: the other feed-consumer product — turn the
        # full retained change feed into interval rows (valid_from/to per
        # key-version). Cost is feed-proportional (one window over the
        # change batch + an open-rows closure join), so this key tracks
        # the feed->history path the way feed_replicate tracks feed->copy.
        from embulk_filter_expand_json_spark.streaming.scd import (
            Scd2Replica,
        )

        scd_path = os.path.join(work, "scd2")
        t0 = time.time()
        scd = Scd2Replica(spark, pipe.table, scd_path)
        scd.apply()
        dt = time.time() - t0
        timings["scd2_history"] = round(dt, 3)
        extras["scd2_rows"] = scd.history().count()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "end_to_end_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                **extras,
                **burn,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
