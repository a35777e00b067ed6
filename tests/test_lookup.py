"""SnapTable.lookup's bucket resolution: exact against the writer's hash
layout, free of Spark jobs, and strict about probe types."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_expand_json_spark.streaming.snaptable import (
    SnapTable,
    _bucket_of,
)

KEY_TYPES = {
    "string": (
        T.StringType(),
        st.one_of(st.none(), st.sampled_from(["", "é", "日本", "🙂", "a\x00b"]),
                  st.text(max_size=12)),
    ),
    "long": (
        T.LongType(),
        st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
    ),
    "int": (
        T.IntegerType(),
        st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
    ),
}


def table(spark, path, key_type, buckets=8):
    t = SnapTable(spark, str(path))
    t.create(
        T.StructType([T.StructField("k", key_type), T.StructField("v", T.LongType())]),
        key="k",
        num_buckets=buckets,
    )
    return t


@pytest.mark.parametrize("kind", sorted(KEY_TYPES))
@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_probe_buckets_equal_writer_expression(spark, kind, data):
    """Every probe resolves to the bucket the writer's expression puts the
    same value in, evaluated over a DataFrame column as merge does."""
    key_type, values = KEY_TYPES[kind]
    keys = data.draw(st.lists(values, min_size=1, max_size=4))
    n = data.draw(st.sampled_from([8, 64, 1000]))
    t = SnapTable(spark, "unused")
    field = T.StructField("k", key_type)
    written = spark.createDataFrame([(k,) for k in keys], T.StructType([field]))
    want = [r[0] for r in written.select(_bucket_of(F.col("k"), n)).collect()]
    got = [t._probe_buckets([k], field, n) for k in keys]
    assert got == [[b] for b in want]
    assert t._probe_buckets(keys, field, n) == sorted(set(want))


@pytest.mark.parametrize(
    "kind,keys",
    [
        ("string", ["", "é", "🙂", "plain", None]),
        ("long", [0, -1, 2**40, -(2**63), None]),
        ("int", [0, -7, 2**31 - 1, None]),
    ],
)
def test_probe_buckets_match_written_files(spark, tmp_path, kind, keys):
    """End to end: each key's row sits in a file of the bucket its probe
    resolves to, and lookup finds exactly that row."""
    key_type = KEY_TYPES[kind][0]
    t = table(spark, tmp_path / kind, key_type)
    rows = [(k, i) for i, k in enumerate(keys)]
    t.merge(spark.createDataFrame(rows, t.schema()), epoch=0)
    man = t.manifest()
    placed = {
        r["v"]: [f["bucket"] for f in man["files"] if r["f"].endswith(f["path"])]
        for r in t.read()
        .select("v", F.col("_metadata.file_path").alias("f"))
        .collect()
    }
    field = T.StructField("k", key_type)
    for k, v in rows:
        assert t._probe_buckets([k], field, man["num_buckets"]) == placed[v]
        assert [r["v"] for r in t.lookup([k]).collect()] == [v]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("done", "done")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_runs_one_job(spark, tmp_path):
    """Resolving the probe buckets schedules nothing: with AQE off a lookup
    is exactly the one job that reads the pruned buckets."""
    t = table(spark, tmp_path / "t", T.StringType())
    t.merge(
        spark.createDataFrame([(f"k{i}", i) for i in range(200)], t.schema()),
        epoch=0,
    )
    keys = ["k3", "k77", "k150", "missing", None]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t.lookup(keys).collect()  # warm
        got = []
        n = _jobs(spark, "lookup", lambda: got.extend(t.lookup(keys).collect()))
        n_resolve = _jobs(
            spark,
            "resolve",
            lambda: t._probe_buckets(keys, t.schema()["k"], 8),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert sorted(r["v"] for r in got) == [3, 77, 150]
    assert n_resolve == 0, f"bucket resolution ran {n_resolve} jobs"
    assert n == 1, f"expected 1 job per lookup, got {n}"


@pytest.mark.parametrize(
    "kind,bad,exc",
    [
        ("string", 1, TypeError),
        ("string", b"k1", TypeError),
        ("long", "x", TypeError),
        ("long", 1.0, TypeError),
        ("long", True, TypeError),
        ("int", 2**40, ValueError),
    ],
)
def test_lookup_rejects_values_the_key_cannot_hold(
    spark, tmp_path, kind, bad, exc
):
    """A probe of the wrong type fails before anything runs; it is never
    cast into the key type and hashed as a different value."""
    t = table(spark, tmp_path / kind, KEY_TYPES[kind][0])
    with pytest.raises(exc):
        t.lookup([bad])
    with pytest.raises(exc):
        t.lookup([None, bad])
