"""Binlog-envelope decoders (Debezium / Maxwell) -> canonical changes.

Covers: op normalization for both dialects, wrapped vs flat Debezium
envelopes, tombstone/marker handling, delete row images, offset synthesis
(lsn probing; Maxwell position packing across binlog rotation), the
unknown-op policies, and end-to-end parity: a Debezium-wrapped copy of the
synthetic change stream replayed through CdcPipeline must produce the
byte-identical final table state as the canonical log itself.
"""

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from embulk_filter_expand_json_spark.sources.changegen import (
    ChangeGenConfig,
    generate_changes,
)
from embulk_filter_expand_json_spark.sources.envelopes import (
    decode_debezium,
    decode_maxwell,
    maxwell_position_offset,
    write_envelope_changes,
)
from embulk_filter_expand_json_spark.streaming.pipeline import CdcPipeline


def _dbz(op, after=None, before=None, lsn=None, ts_ms=None, wrapped=True):
    payload = {"op": op, "after": after, "before": before, "ts_ms": ts_ms}
    payload["source"] = {"lsn": lsn} if lsn is not None else {}
    return json.dumps({"schema": {}, "payload": payload} if wrapped else payload)


def _mxw(typ, data=None, old=None, position=None, ts=None, xid=None):
    d = {"type": typ, "data": data, "old": old, "position": position,
         "ts": ts, "xid": xid}
    return json.dumps({k: v for k, v in d.items() if v is not None})


@pytest.fixture(params=[True, False], ids=["wrapped", "flat"])
def dbz_frame(request, spark):
    w = request.param
    rows = [
        Row(value=_dbz("c", after={"doc_id": "a", "n": 1}, lsn=10, wrapped=w)),
        Row(value=_dbz("u", after={"doc_id": "a", "n": 2},
                       before={"doc_id": "a", "n": 1}, lsn=20, wrapped=w)),
        Row(value=_dbz("r", after={"doc_id": "b", "n": 7}, lsn=30, wrapped=w)),
        Row(value=_dbz("d", before={"doc_id": "a", "n": 2}, lsn=40, wrapped=w)),
        Row(value=None),  # Kafka compaction tombstone
    ]
    return spark.createDataFrame(rows, "value string")


def test_debezium_ops_offsets_and_images(dbz_frame):
    out = decode_debezium(dbz_frame).orderBy("log_offset").collect()
    assert [(r.log_offset, r.op) for r in out] == [
        (10, "I"), (20, "U"), (30, "I"), (40, "D"),
    ]
    # upserts carry the after image; the delete carries the before image
    assert json.loads(out[1].payload) == {"doc_id": "a", "n": 2}
    assert json.loads(out[3].payload) == {"doc_id": "a", "n": 2}
    assert "epoch" not in dbz_frame.columns


def test_debezium_offset_fallback_to_ts_ms(spark):
    df = spark.createDataFrame(
        [Row(value=_dbz("c", after={"k": 1}, lsn=None, ts_ms=1700000000123))],
        "value string",
    )
    assert decode_debezium(df).first().log_offset == 1700000000123


def test_debezium_unknown_op_policies(spark):
    df = spark.createDataFrame(
        [Row(value=_dbz("c", after={"k": 1}, lsn=1)),
         Row(value=_dbz("t", lsn=2))],  # truncate: not a row change
        "value string",
    )
    with pytest.raises(Exception, match="unknown debezium op: t"):
        decode_debezium(df).collect()
    kept = decode_debezium(df, on_unknown="drop").collect()
    assert [(r.log_offset, r.op) for r in kept] == [(1, "I")]
    raw = decode_debezium(df, on_unknown="keep").orderBy("log_offset").collect()
    assert raw[1].op == "t"
    with pytest.raises(ValueError, match="on_unknown"):
        decode_debezium(df, on_unknown="ignore")


def test_debezium_epoch_assignment(spark):
    df = spark.createDataFrame(
        [Row(value=_dbz("c", after={"k": i}, lsn=i)) for i in range(10)],
        "value string",
    )
    out = decode_debezium(df, epoch_size=4)
    got = {r.log_offset: r.epoch for r in out.collect()}
    assert got == {i: i // 4 for i in range(10)}
    out2 = decode_debezium(df, epoch_expr=F.lit(3))
    assert {r.epoch for r in out2.collect()} == {3}


def test_maxwell_ops_and_position_packing(spark):
    rows = [
        Row(value=_mxw("insert", data={"doc_id": "x", "n": 1},
                       position="master.000006:800911")),
        Row(value=_mxw("update", data={"doc_id": "x", "n": 2},
                       old={"n": 1}, position="master.000006:900000")),
        # rotation: later FILE, smaller byte offset — must still order after
        Row(value=_mxw("delete", data={"doc_id": "x", "n": 2},
                       position="master.000007:100")),
        Row(value=_mxw("bootstrap-insert", data={"doc_id": "y", "n": 9},
                       position="master.000007:200")),
        Row(value=_mxw("bootstrap-start", position="master.000007:150")),
        Row(value=_mxw("bootstrap-complete", position="master.000007:300")),
    ]
    out = decode_maxwell(spark.createDataFrame(rows, "value string"))
    got = sorted((r.log_offset, r.op) for r in out.collect())
    assert [op for _, op in got] == ["I", "U", "D", "I"]
    offs = [o for o, _ in got]
    assert offs == sorted(offs) and len(set(offs)) == 4
    # rotation ordering: file 7 pos 100 > file 6 pos 900000
    assert got[2][0] > got[1][0]
    # delete payload is the deleted row image (Maxwell ships it in data)
    del_rows = [r for r in out.collect() if r.op == "D"]
    assert len(del_rows) == 1
    assert json.loads(del_rows[0].payload) == {"doc_id": "x", "n": 2}


def test_maxwell_position_offset_is_monotone(spark):
    df = spark.createDataFrame(
        [("master.000001:5",), ("master.000001:4294967000",),
         ("master.000002:0",), ("mysql-bin.000010:77",)],
        "position string",
    )
    vals = [r[0] for r in df.select(maxwell_position_offset(F.col("position"))).collect()]
    assert vals[0] < vals[1] < vals[2] < vals[3]


def test_maxwell_ts_xid_offset_and_unknown(spark):
    rows = [Row(value=_mxw("insert", data={"k": 1}, ts=100, xid=7)),
            Row(value=_mxw("table-create", ts=100, xid=8))]
    df = spark.createDataFrame(rows, "value string")
    with pytest.raises(Exception, match="unknown maxwell op"):
        decode_maxwell(df, offset="ts_xid").collect()
    out = decode_maxwell(df, offset="ts_xid", on_unknown="drop").collect()
    assert [(r.log_offset, r.op) for r in out] == [(100 * 1048576 + 7, "I")]
    with pytest.raises(ValueError):
        decode_maxwell(df, offset="bogus")


def test_write_envelope_changes_requires_epoch(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(value=_dbz("c", after={"k": 1}, lsn=1))], "value string"
    )
    with pytest.raises(ValueError, match="epoch"):
        write_envelope_changes(decode_debezium(df), str(tmp_path / "log"))


def test_debezium_end_to_end_matches_canonical_replay(spark, tmp_path):
    """Wrap the synthetic change stream in Debezium envelopes, decode, and
    replay — the final table must equal the canonical log's replay exactly
    (same engine, independent input path through the decoder)."""
    # p_malformed=0: a truncated payload doc embedded by concat would
    # corrupt the ENVELOPE json (op/lsn unreadable), which is a different
    # failure class than a bad row doc inside a well-formed envelope.
    # Bad-typed payloads (valid JSON, tokens:"oops") stay on.
    cfg = ChangeGenConfig(
        n_events=4000, n_docs=300, batch_size=1000, seed=7, p_malformed=0.0
    )
    changes = generate_changes(spark, cfg)

    canon = str(tmp_path / "canon")
    changes.write.partitionBy("epoch").parquet(canon)

    # Envelope the stream: op I/U -> c/u with after=payload; D -> d with
    # before=payload. lsn = log_offset. Malformed payload docs stay
    # malformed inside the envelope (after is embedded as raw text is not
    # possible via to_json, so embed payload as after only when it parses;
    # otherwise ship the raw doc in after via string concat).
    env = changes.select(
        F.concat(
            F.lit('{"payload":{"op":"'),
            F.when(F.col("op") == "D", F.lit("d"))
            .when(F.col("op") == "I", F.lit("c"))
            .otherwise(F.lit("u")),
            F.lit('","source":{"lsn":'),
            F.col("log_offset").cast("string"),
            F.lit('},'),
            F.when(F.col("op") == "D", F.lit('"before":'))
            .otherwise(F.lit('"after":')),
            F.col("payload"),
            F.lit("}}"),
        ).alias("value")
    )
    decoded = decode_debezium(env, epoch_size=cfg.batch_size)
    envlog = str(tmp_path / "envlog")
    write_envelope_changes(decoded, envlog)

    t1 = CdcPipeline(spark, canon, str(tmp_path / "t1"), num_buckets=4)
    t1.run()
    t2 = CdcPipeline(spark, envlog, str(tmp_path / "t2"), num_buckets=4)
    t2.run()
    a = t1.table.read().select("doc_id", "tokens", "n_tok", "source")
    b = t2.table.read().select("doc_id", "tokens", "n_tok", "source")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() == b.count() > 0


def test_replay_cli_debezium_jsonl(spark, tmp_path):
    """spark-submit deployment path: a Debezium JSONL dump replayed via
    jobs/replay.py run() (--input-format debezium --envelope-text) lands
    the same final table as the canonical log."""
    import io
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import replay as replay_cli

    cfg = ChangeGenConfig(
        n_events=2000, n_docs=200, batch_size=500, seed=11, p_malformed=0.0
    )
    changes = generate_changes(spark, cfg)
    canon = str(tmp_path / "canon")
    changes.write.partitionBy("epoch").parquet(canon)
    dump = str(tmp_path / "dump")
    changes.select(
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
    ).write.text(dump)

    with redirect_stdout(io.StringIO()):
        rc = replay_cli.run(spark, [
            "--changes", dump, "--table", str(tmp_path / "t_env"),
            "--input-format", "debezium", "--envelope-text",
            "--decoded-log", str(tmp_path / "decoded"),
            "--envelope-epoch-size", str(cfg.batch_size),
            "--num-buckets", "4",
        ])
        assert rc == 0
        rc = replay_cli.run(spark, [
            "--changes", canon, "--table", str(tmp_path / "t_canon"),
            "--num-buckets", "4",
        ])
        assert rc == 0

    from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable

    a = SnapTable(spark, str(tmp_path / "t_env")).read().select(
        "doc_id", "tokens", "n_tok", "source")
    b = SnapTable(spark, str(tmp_path / "t_canon")).read().select(
        "doc_id", "tokens", "n_tok", "source")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() > 0


def test_replay_cli_envelope_requires_staging(spark, tmp_path):
    import sys

    sys.path.insert(0, "jobs")
    import replay as replay_cli

    with pytest.raises(SystemExit, match="decoded-log"):
        replay_cli.run(spark, [
            "--changes", str(tmp_path / "x"), "--table", str(tmp_path / "t"),
            "--input-format", "debezium",
        ])


def test_streaming_debezium_tail(spark, tmp_path):
    """Structured Streaming binlog tail over a raw Debezium JSONL dump:
    readStream text -> in-stream decode (stateless Catalyst projection) ->
    foreachBatch exactly-once apply. Final state equals the batch canonical
    replay of the same stream."""
    from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable
    from embulk_filter_expand_json_spark.streaming.stream_apply import (
        run_streaming_apply,
    )

    cfg = ChangeGenConfig(
        n_events=3000, n_docs=250, batch_size=750, seed=21, p_malformed=0.0
    )
    changes = generate_changes(spark, cfg)
    canon = str(tmp_path / "canon")
    changes.write.partitionBy("epoch").parquet(canon)
    dump = str(tmp_path / "dump")
    changes.select(
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
    ).write.text(dump)

    q = run_streaming_apply(
        spark, dump, str(tmp_path / "t_stream"), str(tmp_path / "ckpt"),
        num_buckets=4, input_format="debezium", envelope_text=True,
    )
    assert q.awaitTermination(300)

    batch = CdcPipeline(spark, canon, str(tmp_path / "t_batch"), num_buckets=4)
    batch.run()
    a = SnapTable(spark, str(tmp_path / "t_stream")).read().select(
        "doc_id", "tokens", "n_tok", "source")
    b = batch.table.read().select("doc_id", "tokens", "n_tok", "source")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() > 0


def _cnl(typ, data=None, es=None, bid=None, is_ddl=False, sql=None):
    d = {"type": typ, "isDdl": is_ddl, "es": es, "id": bid,
         "data": data, "sql": sql}
    return json.dumps({k: v for k, v in d.items() if v is not None})


def test_canal_batch_unnest_and_offsets(spark):
    from embulk_filter_expand_json_spark.sources.envelopes import decode_canal

    rows = [
        Row(value=_cnl("INSERT", data=[{"doc_id": "a", "n": 1},
                                       {"doc_id": "b", "n": 2}],
                       es=1000, bid=1)),
        Row(value=_cnl("UPDATE", data=[{"doc_id": "a", "n": 3}],
                       es=1001, bid=2)),
        Row(value=_cnl("DELETE", data=[{"doc_id": "b", "n": 2}],
                       es=1002, bid=3)),
        # DDL and row-less control envelopes never yield rows
        Row(value=_cnl("CREATE", es=1003, bid=4, is_ddl=True,
                       sql="create table t(i int)")),
        Row(value=_cnl("INSERT", es=1004, bid=5)),  # heartbeat: no data
        Row(value=None),  # tombstone
    ]
    out = decode_canal(spark.createDataFrame(rows, "value string"))
    got = sorted((r.log_offset, r.op, json.loads(r.payload)["doc_id"])
                 for r in out.collect())
    assert [o for _, o, _ in got] == ["I", "I", "U", "D"]
    assert [d for _, _, d in got] == ["a", "b", "a", "b"]
    offs = [o for o, _, _ in got]
    assert offs == sorted(offs) and len(set(offs)) == 4
    # within-batch position breaks ties under the same (es, id)
    assert got[1][0] == got[0][0] + 1


def test_canal_unknown_and_malformed_policies(spark):
    from embulk_filter_expand_json_spark.sources.envelopes import decode_canal

    df = spark.createDataFrame(
        [Row(value=_cnl("INSERT", data=[{"k": 1}], es=1, bid=1)),
         Row(value=_cnl("TRUNCATE", data=[{"k": 2}], es=2, bid=2))],
        "value string",
    )
    with pytest.raises(Exception, match="unknown canal op: TRUNCATE"):
        decode_canal(df).collect()
    kept = decode_canal(df, on_unknown="drop").collect()
    assert [r.op for r in kept] == ["I"]
    raw = decode_canal(df, on_unknown="keep").orderBy("log_offset").collect()
    assert [r.op for r in raw] == ["I", "TRUNCATE"]

    bad = spark.createDataFrame(
        [Row(value='{"type":"INSERT","es":1,"id"')], "value string"
    )
    with pytest.raises(Exception, match="unknown canal op"):
        decode_canal(bad).collect()
    assert decode_canal(bad, on_unknown="drop").count() == 0


def _w2j(changes, nextlsn=None):
    d = {"change": changes}
    if nextlsn is not None:
        d["nextlsn"] = nextlsn
    return json.dumps(d)


def test_wal2json_parallel_arrays_and_lsn(spark):
    from embulk_filter_expand_json_spark.sources.envelopes import (
        decode_wal2json,
    )

    rows = [
        Row(value=_w2j([
            {"kind": "insert", "schema": "p", "table": "t",
             "columnnames": ["doc_id", "tokens", "n_tok"],
             "columntypes": ["text", "jsonb", "integer"],
             "columnvalues": ["a", [1, 2], 2]},
            {"kind": "update",
             "columnnames": ["doc_id", "tokens", "n_tok"],
             "columnvalues": ["a", [3], 1],
             "oldkeys": {"keynames": ["doc_id"], "keyvalues": ["a"]}},
        ], nextlsn="0/1A")),
        Row(value=_w2j([
            {"kind": "delete",
             "oldkeys": {"keynames": ["doc_id"], "keyvalues": ["a"]}},
            {"kind": "message", "prefix": "x", "content": "y"},
        ], nextlsn="1/0")),
        Row(value=None),
    ]
    out = decode_wal2json(spark.createDataFrame(rows, "value string"))
    got = sorted((r.log_offset, r.op, r.payload) for r in out.collect())
    assert [(o, op) for o, op, _ in got] == [
        (26 * 1024 + 0, "I"), (26 * 1024 + 1, "U"),
        (4294967296 * 1024 + 0, "D"),
    ]
    assert json.loads(got[0][2]) == {"doc_id": "a", "tokens": [1, 2], "n_tok": 2}
    assert json.loads(got[1][2]) == {"doc_id": "a", "tokens": [3], "n_tok": 1}
    assert json.loads(got[2][2]) == {"doc_id": "a"}  # delete = oldkeys image


def test_wal2json_policies_and_escaping(spark):
    from embulk_filter_expand_json_spark.sources.envelopes import (
        decode_wal2json,
    )

    df = spark.createDataFrame(
        [Row(value=_w2j([
            {"kind": "truncate", "schema": "p", "table": "t"},
            {"kind": "insert", "columnnames": ['we"ird'],
             "columnvalues": ["v"]},
        ], nextlsn="0/2"))],
        "value string",
    )
    with pytest.raises(Exception, match="unknown wal2json op: truncate"):
        decode_wal2json(df).collect()
    kept = decode_wal2json(df, on_unknown="drop").collect()
    assert len(kept) == 1
    assert json.loads(kept[0].payload) == {'we"ird': "v"}


def test_maxwell_missing_type_and_offsetless_bootstrap(spark):
    # a record with no $.type must hit the error policy, not vanish
    # (NULL.isin(...) is NULL — the marker filter is NULL-safe now)
    df = spark.createDataFrame(
        [Row(value='{"data":{"doc_id":"x"},"position":"m.000001:5"}')],
        "value string",
    )
    with pytest.raises(Exception, match="unknown maxwell op: <missing>"):
        decode_maxwell(df).collect()
    assert decode_maxwell(df, on_unknown="drop").count() == 0

    # real Maxwell bootstrap rows carry no position/xid: NULL order keys
    # must abort under 'error' and drop under 'drop', never flow through
    boot = spark.createDataFrame(
        [Row(value=_mxw("bootstrap-insert", data={"doc_id": "y"}, ts=5))],
        "value string",
    )
    with pytest.raises(Exception, match="NULL log_offset"):
        decode_maxwell(boot).collect()
    assert decode_maxwell(boot, on_unknown="drop").count() == 0


def test_debezium_nonnumeric_offset_path_falls_through(spark):
    # Postgres source.sequence is a JSON-array STRING — a non-numeric
    # first match must fall through to ts_ms, not null the offset
    import json as _json

    val = _json.dumps({"payload": {
        "op": "c", "after": {"k": 1}, "ts_ms": 777,
        "source": {"sequence": '["24023119","24023128"]'},
    }})
    df = spark.createDataFrame([Row(value=val)], "value string")
    out = decode_debezium(
        df, offset_paths=("$.source.sequence", "$.ts_ms")
    ).collect()
    assert out[0].log_offset == 777


def test_wal2json_keep_passes_nonrow_kinds_and_guards_lsn(spark):
    from embulk_filter_expand_json_spark.sources.envelopes import (
        decode_wal2json,
    )

    df = spark.createDataFrame(
        [Row(value=_w2j([
            {"kind": "truncate", "schema": "p", "table": "t"},
            {"kind": "insert", "columnnames": ["k"], "columnvalues": [1]},
        ], nextlsn="0/4"))],
        "value string",
    )
    kept = decode_wal2json(df, on_unknown="keep").orderBy("log_offset").collect()
    assert [(r.op, r.payload) for r in kept] == [
        ("truncate", None), ("I", '{"k":1}'),
    ]

    # a dump without include-lsn must abort loudly, not decode NULL offsets
    nolsn = spark.createDataFrame(
        [Row(value=_w2j([
            {"kind": "insert", "columnnames": ["k"], "columnvalues": [1]},
        ]))],
        "value string",
    )
    with pytest.raises(Exception, match="NULL log_offset"):
        decode_wal2json(nolsn).collect()
    assert decode_wal2json(nolsn, on_unknown="drop").count() == 0

def test_malformed_envelopes_excluded_not_fatal(spark):
    """Structurally unreadable envelopes (non-JSON bytes — e.g. a truncated
    payload doc corrupting the whole concat-built envelope) must not abort
    the decode under the default 'error' policy: they are excluded under
    every policy. Well-formed envelopes with absent offsets keep the loud
    abort (pinned elsewhere: maxwell bootstrap / wal2json no-lsn)."""
    good = _dbz("c", after={"doc_id": "a", "n": 1}, lsn=7)
    rows = [
        Row(value=good),
        Row(value='{"payload":{"op":"u","source":{"lsn":9},"after":{"doc_id":'),
        Row(value="not json at all"),
    ]
    df = spark.createDataFrame(rows, "value string")
    for policy in ("error", "drop", "keep"):
        out = decode_debezium(df, on_unknown=policy).collect()
        assert [(r.log_offset, r.op) for r in out] == [(7, "I")], policy

    mrows = [
        Row(value=_mxw("insert", data={"doc_id": "a"},
                       position="master.000001:10")),
        Row(value='{"type":"insert","data":{"doc_id"'),
    ]
    mdf = spark.createDataFrame(mrows, "value string")
    for policy in ("error", "drop"):
        out = decode_maxwell(mdf, on_unknown=policy).collect()
        assert [(r.op) for r in out] == ["I"], policy

def test_pack_width_overflow_aborts_not_wraps(spark):
    """A batch with a row position at/over the packed width must abort
    under 'error' (a silent pmod wrap would INVERT LWW order within the
    batch); in-range batches are byte-identical to before the guard, and
    'drop' keeps the documented modulo behavior."""
    from embulk_filter_expand_json_spark.sources.envelopes import decode_canal

    big = json.dumps({
        "type": "INSERT", "isDdl": False, "es": 1000, "id": 1,
        "data": [{"k": i} for i in range(1025)],
    })
    df = spark.createDataFrame([Row(value=big)], "value string")
    with pytest.raises(Exception, match="row position >= 1024"):
        decode_canal(df).collect()
    assert decode_canal(df, on_unknown="drop").count() == 1025  # wraps, kept

    ok = json.dumps({
        "type": "INSERT", "isDdl": False, "es": 1000, "id": 1,
        "data": [{"k": 1}, {"k": 2}],
    })
    out = decode_canal(
        spark.createDataFrame([Row(value=ok)], "value string")
    ).orderBy("log_offset").collect()
    assert [r.log_offset for r in out] == [
        1000 * 4194304 + 1 * 1024 + 0, 1000 * 4194304 + 1 * 1024 + 1,
    ]
