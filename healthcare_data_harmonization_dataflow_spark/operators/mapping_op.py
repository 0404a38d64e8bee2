"""The mapping operator — the engine's core transform.

Re-expression of ``ParDo(MappingFn).withOutputTags(MAPPING_TAG,
[ERROR_ENTRY_TAG])`` (Hl7v2ToFhirStreamingRunner.java:203-206,
MappingFn.java:212-225): one pass over the input producing a union-typed
result with ``ok`` (output JSON string) and ``err`` (ErrorEntry struct)
columns; exactly one of the two is non-null per row.

Semantics locked to MappingFnTest.java:
* valid input  -> ok = transformed JSON, err = null            (:105-150)
* invalid JSON -> ok = null, err.sources == [id], err.step set (:77-103)
* invalid config -> raises at compile time, before any data    (:66-75)

Backends (see mapping_compile.py): ``columns`` keeps the transform inside
whole-stage codegen (VARIANT expressions); ``pandas`` ships the compiled
closure to Arrow-batched workers (one engine per worker process — the
module-level cache below is the Spark analogue of MappingFn.java:156-192's
once-per-JVM synchronized init).
"""

from __future__ import annotations

import time
import traceback
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.mapping_compile import PARSED_COL, CompiledMapping, compile_mapping
from ..model.errors import (
    ERROR_ENTRY_SCHEMA,
    STEP_MAPPING,
    RecoverableMappingError,
    error_entry,
)

# per-worker-process compiled-engine cache (init once per executor, not per batch)
_ENGINE_CACHE: dict[str, CompiledMapping] = {}


def _engine(config_text: str) -> CompiledMapping:
    eng = _ENGINE_CACHE.get(config_text)
    if eng is None:
        eng = compile_mapping(config_text)
        _ENGINE_CACHE[config_text] = eng
    return eng


def apply_mapping(
    df: DataFrame,
    config_text: str,
    id_col: str = "id",
    data_col: str = "data",
    backend: str = "auto",
    clock: str | None = None,
    report_only: Callable[[Exception], bool] | None = None,
    measure_latency: bool = False,
) -> DataFrame:
    """Return ``df`` + columns ``ok`` (string) and ``err`` (ErrorEntry).

    ``backend="auto"`` uses Catalyst VARIANT expressions when the config is
    projective, else the Arrow/pandas closure. ``clock`` fixes the error
    timestamp for deterministic tests.

    Fatal-vs-recoverable classification (ErrorEnabledDoFn.java:29-77): every
    failure is written to the dead-letter branch, but only RECOVERABLE ones
    (``RecoverableMappingError`` — the analogue of the reference's bare
    ``RuntimeException`` test) let the pipeline continue; anything else
    re-raises and fails the job, so a systemic failure (an engine bug, a
    config that throws on every row) cannot silently dead-letter an entire
    corpus. ``report_only`` overrides the classification, mirroring the
    overridable ``reportOnly(Throwable)``. The columns backend has the same
    behavior structurally: data problems surface as null VARIANT (-> err
    rows) while engine/runtime exceptions fail the Spark task.
    """
    custom_report_only = report_only is not None
    if report_only is None:
        report_only = lambda e: isinstance(e, RecoverableMappingError)  # noqa: E731

    mapping = compile_mapping(config_text)  # fail-fast on bad config

    if custom_report_only or measure_latency:
        # a caller-supplied classification needs the per-element try/except,
        # which only the pandas path has — silently ignoring it on the
        # columns path would drop user-requested fatal semantics (the exact
        # silent-dead-letter failure the parameter exists to prevent).
        # Likewise the per-element transform Distribution
        # (MappingFn.java:53-54, 203-209) needs a per-element clock, which
        # only the Arrow/pandas path has — inside whole-stage codegen there
        # is no per-row timer. Callers opting into the reference's
        # enablePerformanceMetrics trade the codegen fast path for
        # per-element observability. No column plan is built for either.
        backend = "pandas"
    elif backend == "auto":
        # the probe IS the build: variant_columns() below reuses it
        backend = "columns" if mapping.supports_columns(clock) else "pandas"

    if backend == "columns":
        # parse ONCE into a materialized variant column; ok/err both read it.
        # (Without this, the ok-condition, ok-output and err-condition each
        # re-parsed the JSON — 3x the dominant per-row cost.)
        out_col, req_miss = mapping.variant_columns(clock)
        out = (
            df.withColumn(PARSED_COL, F.try_parse_json(F.col(data_col)))
            .withColumn(
                "ok",
                F.when(
                    F.col(PARSED_COL).isNotNull() & req_miss.isNull(), out_col
                ),
            )
            .withColumn(
                "err",
                # invalid JSON first (a null root also trips every required
                # condition); then required-miss — same dead-letter shape,
                # message matches the python backend's RecoverableMappingError
                F.when(
                    F.col(PARSED_COL).isNull() | F.col(data_col).isNull(),
                    error_entry(
                        step=STEP_MAPPING,
                        message=F.concat(
                            F.lit("invalid input JSON: "),
                            F.coalesce(F.col(data_col), F.lit("<null>")),
                        ),
                        sources=F.array(F.col(id_col)),
                        clock=clock,
                    ),
                ).when(
                    req_miss.isNotNull(),
                    error_entry(
                        step=STEP_MAPPING,
                        message=F.concat(
                            F.lit("required field '"),
                            req_miss,
                            F.lit("' is nil"),
                        ),
                        sources=F.array(F.col(id_col)),
                        clock=clock,
                    ),
                ),
            )
        )
        return out.drop(PARSED_COL)

    if backend != "pandas":
        raise ValueError(f"unknown backend {backend!r}")

    fields = [StructField("ok", StringType()), StructField("err", ERROR_ENTRY_SCHEMA)]
    if measure_latency:
        fields.append(StructField("lat_us", LongType()))
    result_schema = StructType(fields)

    @F.pandas_udf(result_schema)
    def map_batch(ids: pd.Series, datas: pd.Series) -> pd.DataFrame:
        eng = _engine(config_text)
        oks: list[str | None] = []
        errs: list[dict | None] = []
        lats: list[int | None] = []
        ts = clock  # fixed clock or per-batch now
        if ts is None:
            ts = pd.Timestamp.utcnow().strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        for i, data in zip(ids, datas):
            try:
                if data is None:
                    raise RecoverableMappingError("invalid input JSON: <null>")
                # the transform Distribution measures the engine call only
                # (runAndReportMetrics, MappingFn.java:203-209); a throwing
                # element records no latency, like the reference
                t0 = time.perf_counter_ns() if measure_latency else 0
                out = eng.transform(data, ts)
                lats.append((time.perf_counter_ns() - t0) // 1000 if measure_latency else None)
                oks.append(out)
                errs.append(None)
            except Exception as e:
                # Always dead-letter the element (the reference outputs the
                # ErrorEntry BEFORE deciding to rethrow,
                # ErrorEnabledDoFn.java:36-45)...
                oks.append(None)
                lats.append(None)
                # a RecoverableMappingError carries the exact data problem
                # ("invalid input JSON: ..." / "required field '...' is
                # nil") — keep it verbatim so both backends' dead-letter
                # messages agree; other exceptions keep the legacy text
                msg = (
                    str(e)
                    if isinstance(e, RecoverableMappingError) and str(e)
                    else f"invalid input JSON: {data if data is not None else '<null>'}"
                )
                errs.append(
                    {
                        "error_resource": None,
                        "stacktrace": traceback.format_exc(),
                        "error_message": msg,
                        "timestamp": ts,
                        "step": STEP_MAPPING,
                        "sources": [i],
                    }
                )
                # ...then crash the job unless the error is recoverable
                # (ErrorEnabledDoFn.java:42-45, :75-77).
                if not report_only(e):
                    raise
        res = {"ok": oks, "err": errs}
        if measure_latency:
            res["lat_us"] = lats
        return pd.DataFrame(res)

    res = df.withColumn("_mapres", map_batch(F.col(id_col), F.col(data_col)))
    res = res.withColumn("ok", F.col("_mapres.ok")).withColumn("err", F.col("_mapres.err"))
    if measure_latency:
        res = res.withColumn("_lat_us", F.col("_mapres.lat_us"))
    return res.drop("_mapres")
