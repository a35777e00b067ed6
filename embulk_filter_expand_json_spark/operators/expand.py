"""The JSON-expansion operator, Spark-first.

Two physical strategies for the same semantics (the reference's data path,
/root/reference FilteredPageOutput.java:247-418):

1. **Catalyst fast path** — when every JsonPath is *definite* (fields +
   indexes only) the whole operator compiles to JVM-side expressions:
   ``get_json_object`` extraction (Jackson — formats floats exactly like the
   reference's ``String.valueOf``: ``1.2345E7``), ``try_cast`` chains
   replicating the Java parse-with-fallback rules, ``try_to_timestamp`` +
   ``to_utc_timestamp`` for naive-time localization, and a
   ``try_parse_json`` probe for the malformed-document abort. Whole-stage
   codegen applies; zero Python in the hot path.

2. **Arrow general path** — wildcard / recursive-descent / filter paths run
   through ``mapInPandas``: JsonPaths compiled once per executor closure
   (strictly better than the reference's contended global LRU cache,
   ExpandJsonFilterPlugin.java:210-243), per-batch ``json.loads`` +
   engine evaluation, then whole-column vectorized casts.

Both paths implement the invalid-record channel: bad rows are *dropped*
(stop_on_invalid_record=false, counted in ``metrics``) or abort the job
(true) — FilteredPageOutput.java:247-264.

Both strategies are stateless projections, so the SAME call runs on a
Structured Streaming DataFrame unmodified (pinned equal to the batch
result in tests/test_sources_streaming.py) — the reference can only run
inside an Embulk batch load.

Known Catalyst-path deviation (differential-fuzzed, tests/test_differential
.py): JSON *integers beyond int64* pass through Jackson's double conversion
inside get_json_object (15 significant digits) before casting, while the
Arrow path (like the reference's json-smart BigInteger) keeps every digit —
a <=2-ulp difference when the target type is double. All other value
classes are bit-identical across paths.
"""

from __future__ import annotations

import json
import re
import threading
from collections import OrderedDict
from typing import Iterator, Mapping, Optional, Union

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from embulk_filter_expand_json_spark.functions.casts import (
    apply_cast,
    loads_strict,
    stringify_extracted,
)
from embulk_filter_expand_json_spark.functions.jsonpath import (
    Field,
    Index,
    JsonPath,
    compile_path,
)
from embulk_filter_expand_json_spark.functions.timefmt import translate_ruby_to_java
from embulk_filter_expand_json_spark.plans.expand_plan import (
    ColumnSpec,
    DataException,
    ExpandConfig,
    ExpandPlan,
    plan_expansion,
)

_SIMPLE_FIELD_RE = re.compile(r"[A-Za-z0-9_\-$@]+")


def expand_json(
    df: DataFrame,
    config: Union[ExpandConfig, Mapping, ExpandPlan],
    mode: str = "auto",
    metrics: Optional[dict] = None,
    fan_out: bool = True,
) -> DataFrame:
    """Apply the expansion operator. ``mode``: 'auto' (Catalyst when every
    path allows it, else Arrow), 'catalyst', or 'arrow'.

    ``metrics``: optional dict; if it contains an ``invalid_records``
    Spark Accumulator it is incremented with dropped-row counts
    (Arrow path only — the Catalyst path reports via plan filters).

    ``fan_out``: spread an undersized batch scan across the cores before
    the per-row parse (see below); callers embedding the expansion in a
    plan that already pays a downstream exchange (e.g. the CDC epoch
    loop, where LWW shuffles right after) should pass False — there the
    extra exchange of raw payloads measured as a net loss.
    """
    if isinstance(config, ExpandPlan):
        plan = config
    else:
        if isinstance(config, Mapping):
            config = ExpandConfig.from_dict(config)
        plan = plan_expansion(config, df.schema)

    compiled = [compile_path(s.json_path) for s in plan.specs]
    if mode not in ("auto", "catalyst", "arrow"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "catalyst" and not _catalyst_eligible(plan, compiled):
        raise ValueError(
            "mode='catalyst' requested but the plan needs the Arrow path "
            "(indefinite JsonPath or non-translatable timestamp format)"
        )
    use_catalyst = mode == "catalyst" or (
        mode == "auto" and _catalyst_eligible(plan, compiled)
    )
    if fan_out and not df.isStreaming:
        # Unsplittable-input remedy (scale-adaptive, batch only): a small
        # input is often one parquet row group, so the whole per-row parse
        # ran as ONE task while every other core idled. Round-robin to
        # default parallelism ONLY when the scan has fewer splits than
        # cores — a structural no-op at real scale, where scans carry
        # orders of magnitude more splits. Streaming frames pass through
        # untouched (the operator stays a stateless projection there).
        from embulk_filter_expand_json_spark.functions.fanout import (
            fan_out_small_scan,
        )

        df = fan_out_small_scan(df)
    if use_catalyst:
        return _expand_catalyst(df, plan, compiled)
    return _expand_arrow(df, plan, metrics)


def flag_invalid_records(
    df: DataFrame,
    config: Union[ExpandConfig, Mapping, ExpandPlan],
    mode: str = "auto",
) -> DataFrame:
    """Classify every input row against the expansion plan WITHOUT running
    it: returns the input plus ``_invalid`` (boolean) and
    ``_invalid_reason`` ('malformed_document' | 'cast_error' | NULL).

    This is the audit/dead-letter building block: the reference's channel
    is binary (drop or abort, FilteredPageOutput.java:247-264); a CDC
    ingest at scale additionally needs the QUARANTINE policy — bad change
    records routed to a side table with a reason, never silently dropped
    and never halting the stream. Classification never aborts, whatever
    the plan's malformed_json_policy says — capturing the bad row is the
    point.

    Validity is decided by the SAME cast kernels the expansion paths use
    (``_catalyst_cast`` / ``apply_cast``), so filter(~_invalid) +
    expand_json is exactly the rows expand_json's skip channel would keep
    (pinned by tests). Catalyst-eligible plans compile to one pure-JVM
    projection (zero Python); indefinite paths take one Arrow pass.
    """
    plan, compiled = _normalize_plan(df, config)
    for reserved in ("_invalid", "_invalid_reason"):
        if reserved in df.columns:
            raise ValueError(f"input already has a {reserved!r} column")
    if mode not in ("auto", "catalyst", "arrow"):
        raise ValueError(f"unknown mode {mode!r}")
    use_catalyst = mode == "catalyst" or (
        mode == "auto" and _catalyst_eligible(plan, compiled)
    )
    if mode == "catalyst" and not _catalyst_eligible(plan, compiled):
        raise ValueError(
            "mode='catalyst' requested but the plan needs the Arrow path"
        )
    if use_catalyst:
        session_tz = df.sparkSession.conf.get(
            "spark.sql.session.timeZone", "UTC"
        )
        doc = F.col(plan.json_column_name)
        if plan.source_is_json_typed:
            doc = F.to_json(doc)
        malformed = (
            doc.isNotNull()
            & (doc != F.lit(""))
            & F.get_json_object(doc, "$").isNull()
        )
        # extraction once per column as a pre-projection attribute — same
        # tree-size discipline as _expand_catalyst (no guarded-doc wrapper:
        # extraction over a malformed doc is NULL already, and the cast
        # kernels treat NULL input as no-error, so `malformed` alone
        # classifies those rows)
        prefix = "__exc_"
        while any(c.startswith(prefix) for c in df.columns):
            prefix = "_" + prefix  # input shadows the scratch prefix: lengthen
        pre = [
            F.get_json_object(doc, _gjo_path(cp)).alias(f"{prefix}{i}")
            for i, cp in enumerate(compiled)
        ]
        step = df.select("*", *pre)
        cast_err: Column = F.lit(False)
        for i, (spec, cp) in enumerate(zip(plan.specs, compiled)):
            _val, e = _catalyst_cast(F.col(f"{prefix}{i}"), spec, session_tz)
            cast_err = cast_err | e
        reason = F.when(malformed, F.lit("malformed_document")).when(
            cast_err, F.lit("cast_error")
        )
        return step.select(
            *df.columns,
            (malformed | cast_err).alias("_invalid"),
            reason.alias("_invalid_reason"),
        )
    return _flag_invalid_arrow(df, plan)


def _flag_invalid_arrow(df: DataFrame, plan: ExpandPlan) -> DataFrame:
    """Arrow classification pass: one mapInPandas over the input, emitting
    the input columns plus the flag/reason — the same parse + JsonPath +
    vectorized-cast error logic as _expand_arrow, values discarded."""
    specs = tuple(plan.specs)
    json_col = plan.json_column_name
    src_df = df
    if plan.source_is_json_typed:
        json_col = "__expand_doc_json"
        src_df = df.withColumn(
            json_col, F.to_json(F.col(plan.json_column_name))
        )
    in_cols = df.columns
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("_invalid", T.BooleanType(), False),
            T.StructField("_invalid_reason", T.StringType(), True),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        compiled = [compile_path(s.json_path) for s in specs]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            docs = pdf[json_col].tolist()
            parsed: list = [None] * n
            malformed_mask = np.zeros(n, dtype=bool)
            for i, d in enumerate(docs):
                if d is None or d == "" or d is pd.NA:
                    continue
                try:
                    parsed[i] = loads_strict(d)
                except ValueError:
                    malformed_mask[i] = True
            cast_mask = np.zeros(n, dtype=bool)
            for spec, cp in zip(specs, compiled):
                vals = [
                    stringify_extracted(cp.read(p)) if p is not None else None
                    for p in parsed
                ]
                s = pd.Series(vals, index=pdf.index, dtype="object")
                _casted, cerr = apply_cast(
                    s,
                    spec.type,
                    ruby_format=spec.timestamp_format,
                    timezone=spec.timezone,
                    default_date=spec.date,
                )
                cast_mask |= np.asarray(cerr, dtype=bool)
            res = pdf[in_cols].copy()
            res["_invalid"] = malformed_mask | cast_mask
            reason = np.where(
                malformed_mask,
                "malformed_document",
                np.where(cast_mask, "cast_error", None),
            )
            res["_invalid_reason"] = pd.Series(
                reason, index=pdf.index, dtype="object"
            )
            yield res

    return src_df.mapInPandas(fn, out_schema)


def expand_json_split(
    df: DataFrame,
    config: Union[ExpandConfig, Mapping, ExpandPlan],
    mode: str = "auto",
) -> tuple:
    """Quarantine split — the dead-letter-queue policy for the invalid
    record channel: ``(valid, quarantined)`` where ``valid`` is exactly
    ``expand_json``'s skip-channel output and ``quarantined`` is the
    ORIGINAL input rows that channel would have dropped, plus
    ``_invalid_reason``. Neither side aborts, whatever the config's
    stop/malformed policy says — quarantine IS the policy.

    Both sides derive from one classification (a pure projection), so the
    predicate is deterministic across the two actions; callers reading
    both sides should persist the input upstream if its scan is
    expensive. At the 100 TB CDC target the quarantined side is merged
    into its own SnapTable alongside the main apply (see
    CdcPipeline's invalid accounting) so bad producer payloads are
    replayable after a fix instead of gone."""
    plan, _ = _normalize_plan(df, config)
    flagged = flag_invalid_records(df, plan, mode=mode)
    quarantined = flagged.filter(F.col("_invalid")).drop("_invalid")
    ok = flagged.filter(~F.col("_invalid")).drop("_invalid", "_invalid_reason")
    import dataclasses

    safe_plan = dataclasses.replace(
        plan, stop_on_invalid_record=False, malformed_json_policy="invalid_record"
    )
    return expand_json(ok, safe_plan, mode=mode), quarantined


def _normalize_plan(df: DataFrame, config) -> tuple:
    if isinstance(config, ExpandPlan):
        plan = config
    else:
        if isinstance(config, Mapping):
            config = ExpandConfig.from_dict(config)
        plan = plan_expansion(config, df.schema)
    return plan, [compile_path(s.json_path) for s in plan.specs]


# ---------------------------------------------------------------------------
# Catalyst fast path
# ---------------------------------------------------------------------------

def _catalyst_eligible(plan: ExpandPlan, compiled: list) -> bool:
    for spec, cp in zip(plan.specs, compiled):
        # tail functions (.length() etc.) report definite (single value)
        # but only the Python engine can apply them -> Arrow path
        if not cp.is_definite or cp.tail_fn is not None:
            return False
        if spec.type == "timestamp":
            assert spec.timestamp_format is not None
            if translate_ruby_to_java(spec.timestamp_format) is None:
                return False
    return True


def _gjo_path(cp: JsonPath) -> str:
    parts = ["$"]
    for s in cp.steps:
        if isinstance(s, Field):
            if _SIMPLE_FIELD_RE.fullmatch(s.name):
                parts.append("." + s.name)
            else:
                escaped = s.name.replace("'", "\\'")
                parts.append(f"['{escaped}']")
        elif isinstance(s, Index):
            parts.append(f"[{s.index}]")
        else:  # pragma: no cover — guarded by _catalyst_eligible
            raise AssertionError(f"non-definite step {s!r}")
    return "".join(parts)


_I64_MAX = (1 << 63) - 1
_I64_MIN = -(1 << 63)


def catalyst_cast(
    ext: Column,
    type_: str,
    timestamp_format: Optional[str] = None,
    timezone: str = "UTC",
    date: str = "1970-01-01",
    session_tz: str = "UTC",
) -> tuple:
    """-> (value_column, error_condition) replicating the Java casts as pure
    Catalyst expressions. Shared by the expansion operator's fast path and
    the CSV source (sources/files.py) so the two sides cannot diverge."""
    if type_ == "string":
        return ext, F.lit(False)
    if type_ == "boolean":
        # Boolean.parseBoolean: 'true' (ci) -> true, anything else -> false
        val = F.when(ext.isNull(), F.lit(None).cast("boolean")).otherwise(
            F.lower(ext) == F.lit("true")
        )
        return val, F.lit(False)
    if type_ == "double":
        val = ext.try_cast("double")
        return val, ext.isNotNull() & val.isNull()
    if type_ == "long":
        # Long.parseLong with (long) Double.parseDouble fallback
        # (FilteredPageOutput.java:361-374): '12345e3' -> 12_345_000.
        # Java's (long) cast saturates at Long.MIN/MAX and maps NaN to 0;
        # Spark's double->long try_cast nulls instead, so clamp explicitly.
        d = ext.try_cast("double")
        from_double = (
            F.when(F.isnan(d), F.lit(0).cast("long"))
            .when(d >= F.lit(float(_I64_MAX)), F.lit(_I64_MAX))
            .when(d <= F.lit(float(_I64_MIN)), F.lit(_I64_MIN))
            .otherwise(d.try_cast("long"))
        )
        val = F.coalesce(
            ext.try_cast("long"),
            F.when(d.isNotNull(), from_double),
        )
        return val, ext.isNotNull() & val.isNull()
    if type_ == "json":
        # JsonParser.parse validation: value must itself be valid JSON
        # (probe via get_json_object('$') — null only for unparseable text)
        return ext, ext.isNotNull() & F.get_json_object(ext, "$").isNull()
    if type_ == "timestamp":
        assert timestamp_format is not None
        java_fmt = translate_ruby_to_java(timestamp_format)
        assert java_fmt is not None
        has_zone = "%z" in timestamp_format or "%Z" in timestamp_format
        has_date = any(
            "%" + t in timestamp_format for t in ("Y", "y", "m", "d", "F", "D", "j")
        )
        src = ext
        if not has_date:
            src = F.concat(F.lit(date + " "), ext)
            java_fmt = "yyyy-MM-dd " + java_fmt
        parsed = F.try_to_timestamp(src, F.lit(java_fmt))
        if not has_zone:
            # naive wall-time must be interpreted in the COLUMN timezone
            # (FilteredPageOutput.java:130-154). try_to_timestamp parsed it
            # in the SESSION timezone, so first undo that interpretation
            # (from_utc_timestamp reconstructs the wall clock), then apply
            # the column timezone — session-independent.
            wall = F.from_utc_timestamp(parsed, session_tz)
            parsed = F.to_utc_timestamp(wall, timezone)
        return parsed, ext.isNotNull() & parsed.isNull()
    raise AssertionError(type_)


def _catalyst_cast(ext: Column, spec: ColumnSpec, session_tz: str) -> tuple:
    return catalyst_cast(
        ext,
        spec.type,
        timestamp_format=spec.timestamp_format,
        timezone=spec.timezone,
        date=spec.date,
        session_tz=session_tz,
    )


#: unbound Column expressions per (session, plan, input-columns, tz) —
#: rebuilding them is pure py4j round-trip cost (~0.2 s per call measured),
#: which a per-epoch replay loop pays on every micro-batch for an identical
#: plan. Columns are unresolved expressions, safely reusable across
#: DataFrames *of the same JVM*: the key carries the SparkContext identity
#: so a gateway restart (or a second session) never dereferences dead
#: py4j objects. OrderedDict LRU — evict the coldest entry, never the
#: whole cache (a burst of ad-hoc plans must not flush the hot replay
#: plan). A lock guards the move-to-end/evict pair.
_CATALYST_EXPR_CACHE: "OrderedDict" = OrderedDict()
_CATALYST_EXPR_CACHE_MAX = 64
_CATALYST_EXPR_CACHE_LOCK = threading.Lock()


def _expand_catalyst(df: DataFrame, plan: ExpandPlan, compiled: list) -> DataFrame:
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    sc = df.sparkSession.sparkContext
    jsc = getattr(sc, "_jsc", None)
    cache_key = (
        # (gateway identity, JVM object id): both change on gateway restart
        id(getattr(sc, "_gateway", None)),
        getattr(jsc, "_target_id", None),
        plan.json_column_name,
        repr(plan.specs),
        plan.output_schema.json(),
        plan.stop_on_invalid_record,
        plan.malformed_json_policy,
        plan.source_is_json_typed,
        tuple(df.columns),
        session_tz,
    )
    with _CATALYST_EXPR_CACHE_LOCK:
        cached = _CATALYST_EXPR_CACHE.get(cache_key)
        if cached is not None:
            _CATALYST_EXPR_CACHE.move_to_end(cache_key)
    if cached is not None:
        return _apply_catalyst_exprs(df, plan, cached)
    doc = F.col(plan.json_column_name)
    if plan.source_is_json_typed:
        # parsed struct/map/array source: re-serialize once (the reference's
        # json-typed input path, FilteredPageOutput.java:324-332); the
        # pass-through column (if kept) stays its original parsed type
        doc = F.to_json(doc)
    # cheap malformed probe: '$' extraction is null only for unparseable
    # docs. Evaluated in exactly ONE place (the error flag): extractions no
    # longer go through a guarded-doc CASE, because get_json_object over a
    # malformed document already yields NULL — wrapping the doc only
    # nested this probe inside EVERY extraction, exploding the expression
    # tree (r6 plan audit: planning+codegen of the duplicated trees cost
    # seconds per query while executing them cost ~0.04 s).
    malformed = (
        doc.isNotNull() & (doc != F.lit(""))
        & F.get_json_object(doc, "$").isNull()
        # pushdown barrier (no-op predicate: partition ids are >= 0).
        # Without it the NOT-malformed conjunct of the skip filter is
        # deterministic and gets pushed into the SCAN, re-deriving the
        # document expression (e.g. a to_json source) multiple times at
        # input-split parallelism below the fan-out exchange — measured
        # 15 s of a 27 s 6M-row expansion. spark_partition_id() is marked
        # non-deterministic, so the probe stays in the filter above the
        # extraction projection, evaluated once per row.
        & (F.spark_partition_id() >= F.lit(0))
    )
    if plan.malformed_json_policy == "abort":
        # broken top-level JSON always aborts, like Jayway's
        # InvalidJsonException escaping the catch list
        # (FilteredPageOutput.java:257; test :1039-1081). The raise rides
        # the error flag, which every row evaluates (the skip filter or
        # the stop_on_invalid_record wrap below).
        malformed_err = F.when(
            malformed,
            F.raise_error(
                F.concat(F.lit("Invalid JSON document: "), F.substring(doc, 1, 128))
            ).cast("boolean"),
        ).otherwise(F.lit(False))
    else:
        malformed_err = malformed

    # extraction happens ONCE per column, as an attribute of a
    # pre-projection: the cast kernels reference their input many times,
    # and inlining a get_json_object tree into every reference is what
    # made plans balloon. >=2 *top-level* fields still share ONE
    # json_tuple generator (one Jackson parse per row for all of them).
    top_level = [
        i
        for i, cp in enumerate(compiled)
        if len(cp.steps) == 1 and isinstance(cp.steps[0], Field)
    ]
    prefix = "__ext_"
    while any(c.startswith(prefix) for c in df.columns):
        prefix = "_" + prefix  # input shadows the scratch prefix: lengthen
    ext_cols: dict = {}
    jt = None
    if len(top_level) >= 2 and not any(
        re.fullmatch(r"c\d+", c) for c in df.columns
    ):
        names = [compiled[i].steps[0].name for i in top_level]
        renames = {}
        for j, i in enumerate(top_level):
            renames[f"c{j}"] = f"{prefix}{i}"
            ext_cols[i] = F.col(f"{prefix}{i}")
        jt = (F.json_tuple(doc, *names), renames)
    pre_cols = []
    for i, cp in enumerate(compiled):
        if i in ext_cols:
            continue
        pre_cols.append(
            F.get_json_object(doc, _gjo_path(cp)).alias(f"{prefix}{i}")
        )
        ext_cols[i] = F.col(f"{prefix}{i}")

    values = {}
    err: Column = malformed_err
    for i, (spec, cp) in enumerate(zip(plan.specs, compiled)):
        val, e = _catalyst_cast(ext_cols[i], spec, session_tz)
        values[spec.name] = val
        err = err | e

    out_cols = []
    for f in plan.output_schema.fields:
        if f.name in values:
            col = values[f.name]
            if plan.stop_on_invalid_record:
                col = F.when(
                    err,
                    F.raise_error(F.lit("Found an invalid record")).cast(
                        f.dataType.simpleString()
                    ),
                ).otherwise(col)
            out_cols.append(col.cast(f.dataType).alias(f.name))
        else:
            out_cols.append(F.col(f.name))

    bundle = {"jt": jt, "pre_cols": pre_cols, "err": err, "out_cols": out_cols}
    with _CATALYST_EXPR_CACHE_LOCK:
        _CATALYST_EXPR_CACHE[cache_key] = bundle
        _CATALYST_EXPR_CACHE.move_to_end(cache_key)
        while len(_CATALYST_EXPR_CACHE) > _CATALYST_EXPR_CACHE_MAX:
            _CATALYST_EXPR_CACHE.popitem(last=False)
    return _apply_catalyst_exprs(df, plan, bundle)


def _apply_catalyst_exprs(df: DataFrame, plan: ExpandPlan, bundle: dict) -> DataFrame:
    if bundle["jt"] is not None:
        generator, renames = bundle["jt"]
        df = df.select(F.col("*"), generator).withColumnsRenamed(renames)
    if bundle["pre_cols"]:
        df = df.select(F.col("*"), *bundle["pre_cols"])
    if plan.stop_on_invalid_record:
        return df.select(*bundle["out_cols"])
    # invalid-record channel, skip mode: drop the row
    # (FilteredPageOutput.java:258-262)
    return df.filter(~bundle["err"]).select(*bundle["out_cols"])


# ---------------------------------------------------------------------------
# Arrow general path
# ---------------------------------------------------------------------------

_BAD_DOC = object()


def _expand_arrow(
    df: DataFrame, plan: ExpandPlan, metrics: Optional[dict] = None
) -> DataFrame:
    specs = tuple(plan.specs)
    json_col = plan.json_column_name
    if plan.source_is_json_typed:
        # serialize the parsed source into a shadow text column; the original
        # parsed column remains for pass-through (when kept)
        json_col = "__expand_doc_json"
        df = df.withColumn(json_col, F.to_json(F.col(plan.json_column_name)))
    stop = plan.stop_on_invalid_record
    abort_on_malformed = plan.malformed_json_policy == "abort"
    out_schema = plan.output_schema
    out_names = [f.name for f in out_schema.fields]
    expanded_names = {s.name for s in specs}
    invalid_acc = (metrics or {}).get("invalid_records")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # compile once per executor task — the reference's global path cache
        # (ExpandJsonFilterPlugin.java:210-243) made redundant by closure init
        compiled = [compile_path(s.json_path) for s in specs]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            docs = pdf[json_col].tolist()
            parsed: list = [None] * n
            malformed_mask = np.zeros(n, dtype=bool)
            for i, d in enumerate(docs):
                if d is None or d == "" or d is pd.NA:
                    continue
                try:
                    parsed[i] = loads_strict(d)
                except ValueError:
                    if abort_on_malformed:
                        raise DataException(
                            f"Invalid JSON document: {str(d)[:128]!r}"
                        )
                    malformed_mask[i] = True
            err_total = malformed_mask.copy()
            out = {}
            for spec, cp in zip(specs, compiled):
                vals = [
                    stringify_extracted(cp.read(p)) if p is not None else None
                    for p in parsed
                ]
                s = pd.Series(vals, index=pdf.index, dtype="object")
                casted, cerr = apply_cast(
                    s,
                    spec.type,
                    ruby_format=spec.timestamp_format,
                    timezone=spec.timezone,
                    default_date=spec.date,
                )
                out[spec.name] = casted
                err_total |= np.asarray(cerr, dtype=bool)
            if err_total.any():
                if stop:
                    raise DataException("Found an invalid record")
                if invalid_acc is not None:
                    invalid_acc.add(int(err_total.sum()))
            res = pd.DataFrame(
                {
                    name: (out[name] if name in expanded_names else pdf[name])
                    for name in out_names
                }
            )
            if err_total.any():
                res = res[~err_total]
            yield res

    return df.mapInPandas(fn, out_schema)
