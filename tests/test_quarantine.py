"""flag_invalid_records / expand_json_split — the quarantine (dead-letter)
policy for the invalid-record channel. The hard contract: valid-side output
is EXACTLY expand_json's skip-channel output, and the quarantined side is
exactly the complement with a reason, on both physical paths.
"""

import pytest
from pyspark.sql import functions as F

from embulk_filter_expand_json_spark import expand_json
from embulk_filter_expand_json_spark.operators.expand import (
    expand_json_split,
    flag_invalid_records,
)

CFG = {
    "json_column_name": "doc",
    "expanded_columns": [
        {"name": "a", "type": "long"},
        {"name": "t", "type": "timestamp", "format": "%Y-%m-%d %H:%M:%S"},
    ],
    # split must IGNORE these: quarantine never aborts
    "stop_on_invalid_record": True,
}


@pytest.fixture()
def src(spark):
    rows = [
        (0, '{"a": 1, "t": "2024-01-01 00:00:00"}'),   # valid
        (1, '{"a": "notanum", "t": "2024-01-01 00:00:00"}'),  # cast error
        (2, '{"a": 2, "t": "BROKEN"}'),                 # cast error (ts)
        (3, '{broken json'),                            # malformed doc
        (4, None),                                      # null doc -> valid nulls
        (5, '{"a": 3, "t": "2024-06-01 12:00:00"}'),    # valid
    ]
    return spark.createDataFrame(rows, "id long, doc string")


@pytest.mark.parametrize("mode", ["catalyst", "arrow"])
def test_split_partitions_the_input(spark, src, mode):
    valid, quar = expand_json_split(src, CFG, mode=mode)
    ok_ids = sorted(r["id"] for r in valid.collect())
    bad = {r["id"]: r["_invalid_reason"] for r in quar.collect()}
    assert ok_ids == [0, 4, 5]
    assert bad == {
        1: "cast_error",
        2: "cast_error",
        3: "malformed_document",
    }
    # quarantined rows are the ORIGINAL input rows
    assert set(quar.columns) == {"id", "doc", "_invalid_reason"}
    assert quar.filter("id = 3").first()["doc"] == "{broken json"


@pytest.mark.parametrize("mode", ["catalyst", "arrow"])
def test_valid_side_equals_skip_channel(spark, src, mode):
    """filter(~invalid) + expand == expand with the drop channel."""
    cfg = dict(
        CFG,
        stop_on_invalid_record=False,
        malformed_json_policy="invalid_record",
    )
    if mode == "arrow":
        cfg["expanded_columns"] = CFG["expanded_columns"] + [
            {"name": "a[*]", "type": "string"}  # indefinite path forces Arrow
        ]
    valid, _ = expand_json_split(src, cfg, mode=mode)
    want = expand_json(src, cfg, mode=mode)
    assert sorted(map(tuple, valid.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_flag_is_pure_jvm_on_definite_plans(spark, src):
    flagged = flag_invalid_records(src, CFG, mode="catalyst")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan and "Exchange" not in plan


def test_reserved_column_collision_raises(spark, src):
    with pytest.raises(ValueError, match="_invalid"):
        flag_invalid_records(src.withColumn("_invalid", F.lit(True)), CFG)


def test_flag_scratch_prefix_yields_to_input_columns(spark, src):
    """An input column named like the extraction scratch (``__exc_0``) is
    kept verbatim, and the flags match those of the unshadowed input."""
    shadowed = src.withColumn("__exc_0", F.lit("mine"))
    got = {r["id"]: (r["__exc_0"], r["_invalid_reason"]) for r in
           flag_invalid_records(shadowed, CFG, mode="catalyst").collect()}
    want = {r["id"]: ("mine", r["_invalid_reason"]) for r in
            flag_invalid_records(src, CFG, mode="catalyst").collect()}
    assert got == want


def test_paths_agree_on_flags(spark, src):
    a = {r["id"]: r["_invalid"] for r in
         flag_invalid_records(src, CFG, mode="catalyst").collect()}
    b = {r["id"]: r["_invalid"] for r in
         flag_invalid_records(src, CFG, mode="arrow").collect()}
    assert a == b
