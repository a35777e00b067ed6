"""Physical-plan quality gates: the optimizations the engine's design
depends on must actually appear in the executed plan — filters pushed into
the parquet scan, partition pruning on the change log's epoch column,
column pruning through the expansion operator, and zero Python in the
Catalyst path."""

import pytest

from pyspark.sql import functions as F

from embulk_filter_expand_json_spark import expand_json

CFG = {
    "json_column_name": "props",
    "expanded_columns": [{"name": "k", "type": "long"}],
}


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_prefilter_pushes_into_scan(spark):
    """A filter on an input column placed before expansion must reach the
    parquet scan as a PushedFilter, not evaluate post-expansion."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    plan = plan_of(expand_json(ev, CFG))
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:200]


def test_partition_pruning_on_epoch(spark, tmp_path):
    from embulk_filter_expand_json_spark.sources.changegen import (
        ChangeGenConfig,
        write_changes,
    )

    path = str(tmp_path / "log")
    write_changes(
        spark, ChangeGenConfig(n_events=2000, n_docs=50, batch_size=500), path
    )
    sliced = spark.read.parquet(path).filter(F.col("epoch") == 2)
    plan = plan_of(sliced)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:120]
    assert "epoch" in seg
    # only one of four epoch partitions is read
    assert sliced.count() == 500


def test_catalyst_path_has_no_python(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = plan_of(expand_json(ev, CFG)).lower()
    assert "mapinpandas" not in plan
    assert "pythonudf" not in plan
    assert "batchevalpython" not in plan


def test_whole_stage_codegen_covers_expansion(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # fan_out=False isolates the operator's own projection (with the
    # scale-adaptive fan-out the plan is AQE-wrapped and explain() hides
    # the codegen '*(n)' markers until the plan is final)
    plan = plan_of(expand_json(ev, CFG, fan_out=False))
    # executedPlan().toString() marks codegen stages with a '*(n)' prefix
    assert plan.lstrip().startswith("*(")
    # the default fan-out adds ONLY a round-robin exchange below the same
    # projection — never a Python node or a key shuffle
    fanned = plan_of(expand_json(ev, CFG)).lower()
    assert "mapinpandas" not in fanned
    assert "hashpartitioning" not in fanned


def test_column_pruning_through_expansion(spark):
    """Selecting a subset of the operator's output must prune unused
    pass-through columns out of the parquet ReadSchema."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = expand_json(ev, CFG).select("event_id", "k")
    plan = plan_of(out)
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "props" in read_schema  # the source column is needed
    assert "event_id" in read_schema
    assert "value" not in read_schema  # unused pass-through pruned
    assert "user_id" not in read_schema


def test_lww_agg_is_partial_aggregated(spark):
    """The agg strategy must plan a map-side partial aggregate before the
    shuffle (the skew-absorbing property the design relies on)."""
    from embulk_filter_expand_json_spark.operators.dedup_lww import lww_dedup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id", "value"
    )
    plan = plan_of(lww_dedup(ev, key="user_id", order="event_id", strategy="agg"))
    before_exchange = plan.split("Exchange")[-1]
    # partial_max_by appears below the exchange (map side)
    assert "partial_max_by" in before_exchange or "partial_max_by" in plan


def test_keyjoin_broadcasts_winner_set(spark):
    from embulk_filter_expand_json_spark.operators.dedup_lww import lww_dedup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id", "value"
    )
    plan = plan_of(
        lww_dedup(ev, key="user_id", order="event_id", strategy="keyjoin")
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_fan_out_small_scan_only_repartitions_undersized_inputs(spark):
    """The CDC epoch's input fan-out is a structural no-op on a scan with
    at least defaultParallelism splits and on one below ``min_bytes``;
    otherwise it adds exactly one round-robin exchange."""
    from embulk_filter_expand_json_spark.functions.fanout import (
        fan_out_small_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, cores)
    assert fan_out_small_scan(wide) is wide
    assert fan_out_small_scan(wide, min_bytes=1) is wide

    narrow = spark.range(0, 1000, 1, 1)
    assert fan_out_small_scan(narrow, min_bytes=1 << 40) is narrow
    for min_bytes in (0, 1):
        fanned = fan_out_small_scan(narrow, min_bytes=min_bytes)
        assert plan_of(fanned).count("RoundRobinPartitioning") == 1
        assert plan_of(fanned).count("Exchange") == 1
        assert sorted(r.id for r in fanned.collect()) == list(range(1000))


def test_simhash_token_hashing_is_jvm_side(spark):
    """Token hashing must run in Catalyst (xxhash64 under codegen BEFORE the
    Arrow boundary), not inside the Python worker — VERDICT r1 finding #1."""
    from embulk_filter_expand_json_spark.operators.dedup_text import simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(simhash(docs))
    # the xxhash64 projection feeds ArrowEvalPython / MapInPandas, so it
    # must appear below it in the plan text
    assert "xxhash64" in plan
    python_at = plan.find("MapInPandas")
    if python_at == -1:
        python_at = plan.find("ArrowEval")
    assert python_at != -1
    assert plan.find("xxhash64") > python_at  # child plans print BELOW parents


def test_minhash_band_shuffle_is_ids_only(spark):
    """The band-explode candidate join must not drag the 64-long minhash
    array through its exchanges — VERDICT r1 finding #3. Every hash exchange
    keyed on the band hash carries exactly (id, band, bh)."""
    from embulk_filter_expand_json_spark.operators.dedup_text import (
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(minhash_lsh_candidates(docs))
    for chunk in plan.split("Exchange hashpartitioning(")[1:]:
        keys = chunk.split(")")[0]
        if "bh#" in keys:
            # the projected output feeding this exchange is on the next
            # 'Project' line below; it must not include the minhash array
            below = chunk[:2000]
            proj = below.split("Project [", 1)
            assert len(proj) > 1
            assert "minhash" not in proj[1].split("]")[0]


def test_training_pipeline_single_shuffle_pruned_scan(spark):
    """The composed curation pass (quality gate -> exact dedup -> stats)
    must stay whole-stage JVM (zero Python stages), read only (doc_id,
    text) from parquet, and shuffle exactly once (the dedup groupBy)."""
    import __spark_entry__ as S

    out = S.queries()["training_pipeline_docs"](spark, "/root/testdata/sf0.001")
    plan = plan_of(out)
    assert plan.count("Exchange") == 1, plan
    assert "mapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_curation_ops_plan_shapes(spark):
    """The curation layer's scale contracts, pinned in the executed plan:
    PII redaction and the mixing sample are scan-side projections (zero
    exchanges, no Python); decontamination broadcasts the benchmark gram
    set and never sort-merge-joins the corpus; packing is exactly one
    hash exchange into the Arrow kernel."""
    from embulk_filter_expand_json_spark.operators.curation import (
        decontaminate,
        mix_sample,
        pack_sequences,
        redact_pii,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    redacted = docs.select("doc_id", redact_pii(F.col("text")).alias("t"))
    p = plan_of(redacted)
    assert "Exchange" not in p and "Python" not in p

    mixed = mix_sample(docs, {"src0": 1.0, "src1": 0.5})
    p = plan_of(mixed)
    assert "Exchange" not in p and "Python" not in p

    dec = decontaminate(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
    p = plan_of(dec)
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    packed = pack_sequences(
        docs.select("doc_id", F.col("n_chars").alias("n_tok")),
        budget=256,
        token_col="n_tok",
    )
    p = plan_of(packed)
    assert p.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in p


def test_span_dedup_plan_shapes(spark):
    """duplicate_spans: the window-count aggregation shuffles md5 DIGESTS
    (the gram column is the md5 output), never window texts, and the
    whole detection plan stays JVM-side."""
    from embulk_filter_expand_json_spark.operators.dedup_text import (
        duplicate_spans,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spans = duplicate_spans(docs, window=15)
    p = plan_of(spans)
    assert "Python" not in p and "md5" in p
    # the aggregation keyed on the digest column appears before any join
    assert "hashAggregate" in p.lower() or "HashAggregate" in p
