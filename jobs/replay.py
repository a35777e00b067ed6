"""spark-submit entrypoint for the CDC replay job (north_rule launch mode).

    python scripts/package_pyfiles.py                       # -> dist/engine.zip
    spark-submit --master local[32] \
        --py-files dist/engine.zip jobs/replay.py \
        --changes /path/to/changelog --table /path/to/table \
        [--max-epochs N] [--strategy agg|window|salted] [--num-buckets 64]

Raw connector dumps replay directly: --input-format
debezium|maxwell|canal|wal2json decodes a connector envelope dump (parquet string column, or
JSONL with --envelope-text) into a canonical change log staged at
--decoded-log, then replays it — the full binlog-tail deployment in one
spark-submit.

The script is deliberately thin: argument parsing + session construction;
all engine logic lives in the package shipped via --py-files (the analog of
the reference's plugin-jar distribution through the Embulk framework).
Exit code 0 only if every requested epoch committed; re-running after any
failure resumes from the checkpointed offset (exactly-once).
"""

from __future__ import annotations

import argparse
import json
import sys


def run(spark, argv) -> int:
    ap = argparse.ArgumentParser(description="CDC binlog replay -> lake upsert")
    ap.add_argument("--changes", required=True, help="change-log parquet root")
    ap.add_argument(
        "--input-format",
        default="canonical",
        choices=["canonical", "debezium", "maxwell", "canal", "wal2json"],
        help="'canonical' reads --changes as the engine's native "
        "(log_offset, epoch, op, payload) parquet log; 'debezium' / "
        "'maxwell' / 'canal' read raw connector envelope dumps (parquet "
        "with a string column, or JSONL with --envelope-text), decode "
        "them (sources/envelopes.py, pure-Catalyst projection — canal "
        "unnests its per-envelope row batches via the Variant kernel) "
        "and stage a canonical log at --decoded-log before the replay",
    )
    ap.add_argument(
        "--decoded-log",
        default=None,
        help="staging path for the decoded canonical change log "
        "(required for envelope formats; decode is deterministic, so "
        "re-running after a crash restages the same epochs and the "
        "exactly-once skip applies as usual)",
    )
    ap.add_argument(
        "--envelope-epoch-size",
        type=int,
        default=None,
        help="events per replay epoch when decoding envelopes (epoch = "
        "floor(log_offset / N); required for envelope formats)",
    )
    ap.add_argument(
        "--envelope-text",
        action="store_true",
        help="read --changes as JSONL text (one envelope per line) "
        "instead of parquet",
    )
    ap.add_argument(
        "--envelope-value-col",
        default="value",
        help="envelope string column name in a parquet dump",
    )
    ap.add_argument(
        "--maxwell-offset",
        default="position",
        choices=["position", "ts_xid"],
        help="maxwell offset derivation (binlog file:pos pack, or ts/xid)",
    )
    ap.add_argument(
        "--on-unknown",
        default="error",
        choices=["error", "drop", "keep"],
        help="policy for envelope events the decoder does not map to a "
        "row change (Debezium truncate/message, Canal TRUNCATE, ...): "
        "'error' aborts the decode (the default — matches "
        "stop_on_invalid_record), 'drop' skips them, 'keep' passes the "
        "raw op through. Without 'drop', one such event in the dump "
        "fails the replay on every retry",
    )
    ap.add_argument("--table", required=True, help="SnapTable root path")
    ap.add_argument("--max-epochs", type=int, default=None)
    ap.add_argument(
        "--strategy", default="agg", choices=["agg", "window", "salted"]
    )
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--no-evolve", action="store_true")
    ap.add_argument(
        "--gc-keep-snapshots",
        type=int,
        default=None,
        help="expire_snapshots(keep_last=N) after every commit — REQUIRED "
        "for unbounded replay (disk growth is O(epochs x table) without it); "
        "None retains all versions for time travel",
    )
    ap.add_argument(
        "--min-mor-base-bytes",
        type=int,
        default=64 * 1024 * 1024,
        help="merge-on-read floor: buckets with less base than this always "
        "take the plain CoW rewrite (deferral never wins on small bases)",
    )
    ap.add_argument(
        "--quarantine",
        default=None,
        help="dead-letter SnapTable path: change records the replay would "
        "drop (malformed doc, failed cast, NULL merge key) are merged "
        "there exactly-once with an _invalid_reason column",
    )
    ap.add_argument(
        "--auto-rebucket-bytes",
        type=int,
        default=None,
        help="double the bucket layout when mean base bytes/bucket pass "
        "this target (buckets grow with data; decision is metadata-only)",
    )
    ap.add_argument(
        "--bloom-columns",
        default=None,
        help="comma-separated columns to write parquet Bloom filters for "
        "(row-group skipping for point lookups on hashed layouts)",
    )
    ap.add_argument(
        "--bloom-ndv",
        type=int,
        default=None,
        help="expected distinct values per file for the Bloom bitset size",
    )
    ap.add_argument(
        "--expect",
        action="append",
        default=[],
        metavar="NAME:ACTION:PREDICATE",
        help="data-quality expectation over each epoch's LWW winners "
        "(repeatable): ACTION is warn|drop|fail; PREDICATE is a SQL "
        "boolean over the table columns, e.g. "
        "--expect 'tok_ok:drop:n_tok >= 0'",
    )
    ap.add_argument(
        "--stats-columns",
        default=None,
        help="comma-separated columns to record per-file min/max stats "
        "for at commit time (enables SnapTable.read_where file skipping)",
    )
    args = ap.parse_args(argv)

    from embulk_filter_expand_json_spark.streaming.pipeline import CdcPipeline

    # validate EVERYTHING cheap before any Spark job: a typo'd --expect
    # must not cost a multi-TB envelope decode first
    expectations = []
    for s in args.expect:
        if s.count(":") < 2:
            raise SystemExit(f"--expect {s!r} is not NAME:ACTION:PREDICATE")
        name, action, pred = s.split(":", 2)
        expectations.append((name, pred, action))

    changes_path = args.changes
    if args.input_format != "canonical":
        if not args.decoded_log or not args.envelope_epoch_size:
            raise SystemExit(
                "--decoded-log and --envelope-epoch-size are required "
                f"for --input-format {args.input_format}"
            )
        from embulk_filter_expand_json_spark.sources.envelopes import (
            decode_envelope,
            write_envelope_changes,
        )

        if args.envelope_text:
            raw = spark.read.text(args.changes)
            value_col = "value"  # the text source's one column
        else:
            raw = spark.read.parquet(args.changes)
            value_col = args.envelope_value_col
        decoded = decode_envelope(
            raw,
            args.input_format,
            value_col=value_col,
            on_unknown=args.on_unknown,
            maxwell_offset=args.maxwell_offset,
            epoch_size=args.envelope_epoch_size,
        )
        write_envelope_changes(decoded, args.decoded_log)
        changes_path = args.decoded_log

    pipe = CdcPipeline(
        spark,
        changes_path=changes_path,
        table_path=args.table,
        lww_strategy=args.strategy,
        num_buckets=args.num_buckets,
        auto_evolve=not args.no_evolve,
        gc_keep_snapshots=args.gc_keep_snapshots,
        min_mor_base_bytes=args.min_mor_base_bytes,
        quarantine_path=args.quarantine,
        auto_rebucket_bytes=args.auto_rebucket_bytes,
        stats_columns=(
            [c for c in args.stats_columns.split(",") if c]
            if args.stats_columns
            else ()
        ),
        expectations=expectations,
        bloom_columns=(
            [c for c in args.bloom_columns.split(",") if c]
            if args.bloom_columns
            else ()
        ),
        bloom_ndv=args.bloom_ndv,
    )
    metrics = pipe.run(max_epochs=args.max_epochs)
    for m in metrics:
        print(m.to_json())
    print(
        json.dumps(
            {
                "epochs_applied": len([m for m in metrics if not m.skipped]),
                "last_committed_epoch": pipe.last_committed_epoch(),
                "final_rows": pipe.table.read().count(),
            }
        )
    )
    return 0


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("cdc-replay")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    try:
        return run(spark, sys.argv[1:])
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
