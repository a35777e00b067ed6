"""Seeded inputs and the output checks.

Every input is a pure function of its seed, so the same seed gives the
same inputs. The engine only ever sees the written files.
Checks compare the engine's outputs with references that share no code
with it: the pure-Python replay oracle and a DuckDB JSON extraction.
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import functions as F

#: payload key the trickle producer adds in the epoch its drift probe
#: applies (``lang`` already drifts in the first epoch of every backfill)
DRIFT_KEY = "region"

#: the expansion config of the operator-alone passes: one column of each
#: kind the operator casts, a timestamp whose format Catalyst can
#: translate, a JSON sub-document and a nested path
EXPAND_CONFIG = {
    "json_column_name": "doc",
    "expanded_columns": [
        {"name": "ok", "type": "long"},
        {"name": "qty", "type": "double"},
        {"name": "price", "type": "double"},
        {"name": "rf", "type": "string"},
        {"name": "ls", "type": "string"},
        {"name": "shipdate", "type": "timestamp", "format": "%Y-%m-%d %H:%M:%S"},
        {"name": "tags", "type": "json"},
        {"name": "ship.mode", "type": "string"},
    ],
}
#: (output column, JSON path, DuckDB type) of the columns checked in DuckDB
DUCKDB_COLUMNS = [
    ("ok", "$.ok", "BIGINT"),
    ("qty", "$.qty", "DOUBLE"),
    ("price", "$.price", "DOUBLE"),
    ("rf", "$.rf", "VARCHAR"),
    ("ls", "$.ls", "VARCHAR"),
    ("ship.mode", "$.ship.mode", "VARCHAR"),
]

def change_log(spark, seed: int, n_events: int, n_docs: int, drift_offsets=None):
    """The ``sources.changegen`` log the engine's tests and bench.py use:
    Zipf-skewed doc ids, inserts, updates and deletes, a ``lang`` key on a
    tenth of the upserts, truncated and badly typed payloads. Upserts at
    offsets in ``drift_offsets`` = [lo, hi) also carry ``DRIFT_KEY``.
    Returns (the frame, its (log_offset, op, payload) triples for the
    oracle)."""
    from embulk_filter_expand_json_spark.sources.changegen import (
        ChangeGenConfig,
        generate_changes,
    )

    log = generate_changes(
        spark, ChangeGenConfig(n_events=n_events, n_docs=n_docs, seed=seed)
    ).select("log_offset", "op", "payload")
    if drift_offsets:
        lo, hi = drift_offsets
        off = F.col("log_offset")
        log = log.withColumn(
            "payload",
            F.when(
                (off >= lo) & (off < hi) & (F.col("op") != "D"),
                F.concat(
                    F.lit(f'{{"{DRIFT_KEY}":"r'), (off % 5).cast("string"), F.lit('",'),
                    F.expr("substring(payload, 2)"),
                ),
            ).otherwise(F.col("payload")),
        )
    tb = log.toArrow()
    return log, list(zip(*(tb.column(c).to_pylist() for c in ("log_offset", "op", "payload"))))


def write_envelopes(log, path: str, files: int = 4) -> None:
    """A Debezium dump of a change log: parquet with one string column
    ``value``, as a Kafka sink lands it. A truncated payload leaves its
    envelope unreadable, which the decoder drops as the oracle drops the
    payload."""
    op = F.col("op")
    log.select(
        F.concat(
            F.lit('{"payload":{"op":"'),
            F.when(op == "D", F.lit("d")).when(op == "I", F.lit("c")).otherwise(F.lit("u")),
            F.lit('","source":{"lsn":'),
            F.col("log_offset").cast("string"),
            F.lit("},"),
            F.when(op == "D", F.lit('"before":')).otherwise(F.lit('"after":')),
            F.col("payload"),
            F.lit("}}"),
        ).alias("value")
    ).coalesce(files).write.parquet(path)


def write_lineitem_docs(path: str, seed: int, n_rows: int, files: int = 4) -> None:
    """``n_rows`` lineitem-shaped JSON documents, keyed by ``rid``."""
    rng = random.Random(seed)
    docs = []
    for _ in range(n_rows):
        ship = 694_224_000 + rng.randrange(220_000_000)
        docs.append(json.dumps({
            "ok": rng.randrange(6_000_000),
            "qty": float(rng.randint(1, 50)),
            "price": rng.randrange(10_000_000) / 100.0,
            "rf": rng.choice("ANR"),
            "ls": rng.choice("OF"),
            "shipdate": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ship)),
            "tags": [rng.randrange(100), rng.randrange(100)],
            "ship": {
                "mode": rng.choice(("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")),
                "instruct": rng.choice(("DELIVER IN PERSON", "COLLECT COD", "NONE")),
            },
            "comment": f"c{rng.randrange(100_000)}",
        }, separators=(",", ":")))
    _write(path, {"rid": list(range(n_rows)), "doc": docs}, files)


def _write(path: str, columns: dict, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


# ------------------------------------------------------------------ oracle


class Oracle:
    """The pure-Python replay oracle over one generated change log, with
    per-key event lists so a lookup at any epoch can be checked without
    replaying the whole log."""

    def __init__(self, events, epoch_of, extra_keys):
        self.events = events
        self.epoch_of = epoch_of
        self.extra_keys = tuple(extra_keys)
        self.by_key: dict = {}
        for ev in events:
            try:
                doc = json.loads(ev[2])
            except (TypeError, ValueError):
                continue  # malformed: the oracle drops it wherever it sits
            if isinstance(doc, dict) and doc.get("doc_id") is not None:
                self.by_key.setdefault(doc["doc_id"], []).append(ev)

    def state(self, through_epoch=None, keys=None) -> dict:
        from embulk_filter_expand_json_spark.reference_oracle import replay

        if keys is None:
            evs = self.events
        else:
            evs = [ev for k in keys for ev in self.by_key.get(k, ())]
        if through_epoch is not None:
            evs = [ev for ev in evs if self.epoch_of(ev[0]) <= through_epoch]
        return replay(evs, extra_keys=self.extra_keys)


def rows_state(rows, extra_keys) -> dict:
    """Table rows -> the oracle's {doc_id: {...}} shape."""
    out = {}
    for r in rows:
        d = r.asDict()
        out[d["doc_id"]] = {
            "tokens": list(d["tokens"]) if d["tokens"] is not None else None,
            "n_tok": d["n_tok"],
            "source": d["source"],
            **{k: d.get(k) for k in extra_keys},
        }
    return out


def frame_digest(df) -> tuple:
    """Order-independent (row count, hash sum) of a frame's rows."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    r = df.select(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40))),
    ).collect()[0]
    return int(r[0]), int(r[1] or 0)


def duckdb_mismatches(expanded, src_path: str, out_path: str) -> int:
    """Rows whose long/double/string columns differ from DuckDB's own
    JSON extraction of the same documents (plus any row-count gap)."""
    import duckdb

    safe = {c: c.replace(".", "_") for c, _, _ in DUCKDB_COLUMNS}
    expanded.select(
        "rid", *[F.col(f"`{c}`").alias(safe[c]) for c in safe]
    ).write.mode("overwrite").parquet(out_path)
    diff = " OR ".join(
        f"o.{safe[c]} IS DISTINCT FROM TRY_CAST(json_extract_string(i.doc, '{p}') AS {t})"
        for c, p, t in DUCKDB_COLUMNS
    )
    con = duckdb.connect()
    try:
        n_in, n_out, bad = con.execute(
            f"""
            WITH i AS (SELECT * FROM read_parquet('{src_path}/*.parquet')),
                 o AS (SELECT * FROM read_parquet('{out_path}/*.parquet'))
            SELECT (SELECT count(*) FROM i), (SELECT count(*) FROM o),
                   (SELECT count(*) FROM o JOIN i USING (rid) WHERE {diff})
            """
        ).fetchone()
    finally:
        con.close()
    return int(bad) + abs(int(n_in) - int(n_out))
