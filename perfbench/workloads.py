"""The benchmark's workloads. Each one writes its seeded input, runs one
pass of the program over it, checks a pass's output, and reads the
per-layer figures the program itself reports (query progress, sink
lineage, observed counters)."""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.model.errors import err_rows, ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.bundles import assemble_bundles
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping
from healthcare_data_harmonization_dataflow_spark.sources.transcripts import (
    append_flush_sentinel,
    generate_transcripts,
    write_time_ordered_stream,
)
from healthcare_data_harmonization_dataflow_spark.streaming.dedup_stream import (
    StreamingDedupPipeline,
)
from healthcare_data_harmonization_dataflow_spark.streaming.metrics import observe_mapping
from healthcare_data_harmonization_dataflow_spark.streaming.pipeline import (
    HarmonizationPipeline,
)
from healthcare_data_harmonization_dataflow_spark.streaming.sink import (
    ExactlyOnceParquetSink,
)

from . import eventlog
from .checks import Check, conservation_check, count_check, harmonize_checks
from .harness import ROOT, SHUFFLE_PARTITIONS, SinkTimer, sink_output, median

# Projective mapping over the transcript JSON: nested targets, a builtin
# and a conditional branch, so the mapping layer does real work.
CONFIG = """
out Turn: Proj(root);
def Proj(input) {
  score.raw: input.bar;
  speaker.role: $ToUpper(input.role);
  speaker.note: input.note;
  if $Gt(input.bar, 49) {
    score.band: "high";
  } else {
    score.band: "low";
  }
}
"""

MAX_TURNS_PER_BUNDLE = 10_000
HOT_FRAC = 0.10
MALFORMED_PER_MILLE = 5
LATE_ONE_IN = 199  # rows shifted one hour back in event time
SENTINEL = "conv-sentinel"


@dataclass
class Pass:
    """One measured pass: wall time, per-batch latencies and what the
    program reported about it."""

    wall_s: float
    t0_ms: float
    t1_ms: float
    batch_s: list[float]
    progress: list = field(default_factory=list)  # every query's progress
    main: list = field(default_factory=list)  # the headline query's progress
    timer: SinkTimer | None = None
    sinks: tuple = ()
    pipe: object = None
    observed: dict = field(default_factory=dict)
    spans: dict = field(default_factory=dict)  # query -> (start, end) epoch ms


def _durations(progress) -> list[float]:
    return [
        p.durationMs.get("triggerExecution", 0) / 1000.0
        for p in progress
        if p.numInputRows > 0
    ]


def _engine_layer(passes: list[Pass]) -> dict[str, float]:
    batches = [p for ps in passes for p in ps.progress]

    def mean(key: str) -> float:
        return sum(b.durationMs.get(key, 0) for b in batches) / max(1, len(batches))

    return {
        "engine.latest_offset_ms": mean("latestOffset"),
        "engine.query_planning_ms": mean("queryPlanning"),
        "engine.wal_commit_ms": mean("walCommit"),
        "engine.commit_offsets_ms": mean("commitOffsets"),
        "engine.batches": len(batches) / max(1, len(passes)),
    }


def _sink_layer(passes: list[Pass]) -> dict[str, float]:
    n = max(1, len(passes))
    outs = [sink_output(*p.sinks) for p in passes]
    return {
        "sink.write_s": sum(p.timer.seconds for p in passes) / n,
        "sink.bytes_written": sum(o["bytes"] for o in outs) / n,
        "sink.files": sum(o["files"] for o in outs) / n,
        "sink.batches_committed": sum(o["batches"] for o in outs) / n,
    }


def _errors_layer(rows_ok: float, rows_err: float) -> dict[str, float]:
    total = rows_ok + rows_err
    return {
        "errors.rows_ok": rows_ok,
        "errors.rows_err": rows_err,
        "errors.ok_ratio": rows_ok / total if total else 0.0,
    }


def seeded_transcripts(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``generate_transcripts``'s layout (one conversation with 10% of the
    turns, 20-turn conversations, roles, tools, jittered event time), with
    the seed choosing the conversation keys (hence which key is hot),
    each conversation's start, which rows are malformed or an hour late,
    and the arrival order."""
    base = generate_transcripts(
        spark,
        total_turns=n,
        hot_frac=HOT_FRAC,
        malformed_per_mille=0,
        late_one_in=10**18,
        shuffled_arrival=False,
    )
    salt = F.lit(f"perfbench-{seed}")
    conv = F.concat(
        F.lit("conv-"), F.substring(F.sha2(F.concat_ws(":", salt, "conv_id"), 256), 1, 12)
    )
    h = F.abs(F.xxhash64("conv_id", "turn_idx", salt))
    shift = F.abs(F.xxhash64("conv_id", salt)) % 3600
    late = F.when(h % LATE_ONE_IN == 0, 3600).otherwise(0)
    text = F.when(h % 1000 < MALFORMED_PER_MILLE, F.lit("{")).otherwise(
        F.format_string(
            '{"bar":%d,"role":"%s","note":"turn %d of %s"}',
            h % 100, F.col("role"), F.col("turn_idx"), conv,
        )
    )
    out = base.select(
        conv.alias("conv_id"),
        "turn_idx",
        "role",
        text.alias("text"),
        "tool",
        F.timestamp_seconds(F.unix_timestamp("ts") + shift - late).alias("ts"),
        F.abs(F.xxhash64("conv_id", "turn_idx", salt, F.lit("arrival"))).alias("_arr"),
    )
    return (
        out.repartition(SHUFFLE_PARTITIONS, "_arr")
        .sortWithinPartitions("_arr")
        .drop("_arr")
    )


class Workload:
    name = ""
    unit_name = "records"  # what records_per_s counts
    records = 0  # input records per pass
    warmup_passes = 1  # at the measured size, inside setup_s

    def __init__(self, workdir: str, seed: int):
        self.workdir = workdir
        self.seed = seed
        self.input_dir = os.path.join(workdir, "input")
        self._n_pass = 0

    def _pass_dir(self) -> str:
        self._n_pass += 1
        return os.path.join(self.workdir, f"pass{self._n_pass}")

    def write_input(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def run_pass(self, spark: SparkSession) -> Pass:
        raise NotImplementedError

    def checks(self, spark: SparkSession, passes: list[Pass]) -> list[Check]:
        raise NotImplementedError

    def layers(self, spark: SparkSession, passes: list[Pass]) -> dict[str, float]:
        raise NotImplementedError

    # per-layer metrics only this workload reports, on top of run.PER_LAYER_UNITS
    extra_units: dict[str, str] = {}

    def trace_layers(self, log: eventlog.EventLog, passes: list[Pass]) -> dict[str, float]:
        """Figures this workload takes from the event log itself."""
        return {}


class StreamHarmonize(Workload):
    """HarmonizationPipeline (state_v1 assembly) draining a time-ordered
    file stream plus the flush sentinel with ``availableNow``: a closed,
    bounded backlog of ``records`` turns."""

    name = "stream_harmonize"
    unit_name = "turns"
    records = 6_000
    # 3 like-sized micro-batches and the sentinel's flush batch a pass, so
    # the median batch time is a data batch's (with 2 data batches it was
    # whichever of cold first batch, warm batch and flush fell between)
    files = 6
    files_per_trigger = 2

    def write_input(self, spark: SparkSession) -> None:
        df = seeded_transcripts(spark, self.records, self.seed)
        write_time_ordered_stream(df, self.input_dir, n_files=self.files)
        append_flush_sentinel(spark, self.input_dir)

    def run_pass(self, spark: SparkSession) -> Pass:
        d = self._pass_dir()
        pipe = HarmonizationPipeline(
            mapping_config=CONFIG,
            out_dir=os.path.join(d, "out"),
            trigger={"availableNow": True},
            assembly="state_v1",
            max_files_per_trigger=self.files_per_trigger,
            # covers the generator's one-day spread of conversation starts
            # and its hour-late rows, so no row is late for the watermark
            watermark_delay="36 hours",
            max_turns_per_bundle=MAX_TURNS_PER_BUNDLE,
        )
        timer = SinkTimer(pipe.bundles_sink, pipe.deadletter_sink)
        t0 = time.time()
        qh = pipe.run_harmonization(spark, self.input_dir, os.path.join(d, "ck_h"))
        qd = pipe.run_deadletter(spark, self.input_dir, os.path.join(d, "ck_d"))
        qh.awaitTermination()
        qd.awaitTermination()
        t1 = time.time()
        main = list(qh.recentProgress)
        progress = main + list(qd.recentProgress)
        return Pass(
            wall_s=t1 - t0, t0_ms=t0 * 1000, t1_ms=t1 * 1000,
            # both sinks' commits: one query's 4 batches a pass gave a
            # median that spread 0.22 over ten seeds
            batch_s=_durations(progress),
            progress=progress, main=main,
            timer=timer, sinks=(pipe.bundles_sink, pipe.deadletter_sink), pipe=pipe,
        )

    @staticmethod
    def _observed(p: Pass) -> tuple[int, int]:
        rows = [b.observedMetrics["mapping_metrics"] for b in p.main
                if "mapping_metrics" in (b.observedMetrics or {})]
        return sum(r["rows_ok"] for r in rows), sum(r["rows_err"] for r in rows)

    @staticmethod
    def _state(p: Pass, attr: str) -> list[int]:
        return [sum(getattr(op, attr) for op in b.stateOperators) for b in p.main]

    def checks(self, spark: SparkSession, passes: list[Pass]) -> list[Check]:
        allin = spark.read.parquet(self.input_dir)
        held = ok_rows(
            apply_mapping(allin.filter(F.col("conv_id") == SENTINEL), CONFIG,
                          id_col="conv_id", data_col="text")
        ).count()
        out = []
        for p in passes:
            bundled = p.pipe.bundles(spark).agg(F.sum("n_turns")).first()[0] or 0
            _, rows_err = self._observed(p)
            out.append(conservation_check(
                input_rows=sum(b.numInputRows for b in p.main),
                bundled=int(bundled),
                deadlettered=rows_err,
                late_dropped=sum(self._state(p, "numRowsDroppedByWatermark")),
                held=held,
            ))
        last = passes[-1].pipe
        out += harmonize_checks(
            allin.filter(F.col("conv_id") != SENTINEL), CONFIG,
            last.bundles(spark), last.deadletter(spark).filter(F.col("conv_id") != SENTINEL),
        )
        return out

    def layers(self, spark: SparkSession, passes: list[Pass]) -> dict[str, float]:
        n = max(1, len(passes))
        obs = [self._observed(p) for p in passes]
        out = _engine_layer(passes) | _sink_layer(passes)
        out |= _errors_layer(sum(o for o, _ in obs) / n, sum(e for _, e in obs) / n)
        out |= {
            "assembly.state_rows": sum(self._state(p, "numRowsTotal")[-1] for p in passes) / n,
            "assembly.state_memory_bytes": max(max(self._state(p, "memoryUsedBytes")) for p in passes),
            "assembly.state_commit_ms": sum(sum(self._state(p, "commitTimeMs")) for p in passes) / n,
            "assembly.rows_dropped_late": sum(
                sum(self._state(p, "numRowsDroppedByWatermark")) for p in passes) / n,
        }
        return out


class BatchHarmonize(Workload):
    """The same input shape as a parquet table: columns-backend mapping,
    ok/err split, single-shuffle bundle assembly and two exactly-once
    sinks (bundles and dead letter)."""

    name = "batch_harmonize"
    unit_name = "turns"
    records = 40_000  # about 2 s a pass on 4 cores, so 3-4 passes a run
    # pass times fall for the first ~6 passes (8.5, 2.6, 2.3, 2.5, 1.9,
    # 2.1 s), then hold near 1.7 s for a dozen more on 4 cores
    warmup_passes = 6

    def write_input(self, spark: SparkSession) -> None:
        seeded_transcripts(spark, self.records, self.seed).write.mode(
            "overwrite"
        ).parquet(self.input_dir)

    def run_pass(self, spark: SparkSession) -> Pass:
        d = self._pass_dir()
        mapped = apply_mapping(
            spark.read.parquet(self.input_dir), CONFIG,
            id_col="conv_id", data_col="text", backend="columns",
        )
        obs_ok, obs_err = Observation("ok_path"), Observation("err_path")
        ok = ok_rows(observe_mapping(mapped, obs_ok)).select(
            "conv_id", "turn_idx", "role", F.col("ok").alias("text"), "ts"
        )
        bundles = assemble_bundles(
            ok, salt_buckets=None, max_turns_per_bundle=MAX_TURNS_PER_BUNDLE
        )
        errs = err_rows(observe_mapping(mapped, obs_err)).select(
            "conv_id", "turn_idx", "ts", F.col("err.*")
        )
        bsink = ExactlyOnceParquetSink(os.path.join(d, "bundles"), "bundles")
        dsink = ExactlyOnceParquetSink(
            os.path.join(d, "deadletter"), "deadletter", num_shards=10
        )
        timer = SinkTimer(bsink, dsink)
        t0 = time.time()
        bsink.write_batch(bundles, 0)
        dsink.write_batch(errs, 0)
        t1 = time.time()
        return Pass(
            wall_s=t1 - t0, t0_ms=t0 * 1000, t1_ms=t1 * 1000, batch_s=[t1 - t0],
            timer=timer, sinks=(bsink, dsink), observed=obs_ok.get,
        )

    def checks(self, spark: SparkSession, passes: list[Pass]) -> list[Check]:
        bsink, dsink = passes[-1].sinks
        return harmonize_checks(
            spark.read.parquet(self.input_dir), CONFIG,
            bsink.read_committed(spark), dsink.read_committed(spark),
        )

    def layers(self, spark: SparkSession, passes: list[Pass]) -> dict[str, float]:
        n = max(1, len(passes))
        out = _sink_layer(passes)
        out |= _errors_layer(
            sum(p.observed["rows_ok"] for p in passes) / n,
            sum(p.observed["rows_err"] for p in passes) / n,
        )
        out["engine.batches"] = 1.0
        return out


class StreamDedup(Workload):
    """StreamingDedupPipeline with Jaccard verification over seeded docs:
    60% unique, 20% exact duplicates and 20% word-set near-duplicates of
    a unique doc that arrives in an earlier micro-batch."""

    name = "stream_dedup"
    unit_name = "docs"
    records = 4_000
    files = 4
    files_per_trigger = 2
    verify_threshold = 0.9
    extra_units = {
        "sink.staging_s": "s",
        "dedup.index_rows": "count",
        "dedup.admitted": "count",
        "dedup.exact_dropped": "count",
        "dedup.near_flagged": "count",
        "dedup.probe.shuffle_bytes": "bytes",
        "dedup.probe.run_ms": "ms",
    }

    def _docs(self, spark: SparkSession) -> DataFrame:
        n, base = self.records, 3 * self.records // 5
        seed = self.seed
        kind = F.when(F.col("id") < base, F.lit("unique")).when(
            F.abs(F.xxhash64("id", F.lit(seed))) % 2 == 0, F.lit("exact")
        ).otherwise(F.lit("near"))
        # a duplicate of doc k has id k + base: with at most 0.5n ids per
        # micro-batch, the original is always committed first
        words = f"""concat_ws(' ', transform(sequence(0, 19), i -> concat('w',
            conv(substring(md5(concat('{seed}', '-', cast(src AS string), '-',
              cast(if(kind = 'near', 19 - i, i) AS string))), 1, 8), 16, 10))))"""
        return (
            spark.range(n, numPartitions=SHUFFLE_PARTITIONS)
            .select(
                F.col("id").alias("doc_id"),
                kind.alias("kind"),
                F.when(F.col("id") < base, F.col("id"))
                .otherwise(F.col("id") - base).alias("src"),
                F.timestamp_seconds(F.lit(1_704_067_200) + F.col("id")).alias("ts"),
            )
            .select("doc_id", "kind", F.expr(words).alias("text"), "ts")
        )

    def write_input(self, spark: SparkSession) -> None:
        docs = self._docs(spark)
        self.expected = {
            r["kind"]: r["count"] for r in docs.groupBy("kind").count().collect()
        }
        write_time_ordered_stream(docs.drop("kind"), self.input_dir, n_files=self.files)

    def run_pass(self, spark: SparkSession) -> Pass:
        d = self._pass_dir()
        pipe = StreamingDedupPipeline(
            out_dir=os.path.join(d, "out"),
            verify_threshold=self.verify_threshold,
            max_files_per_trigger=self.files_per_trigger,
        )
        timer = SinkTimer(pipe.docs_sink, pipe.index_sink)
        t0 = time.time()
        q = pipe.run(spark, self.input_dir, os.path.join(d, "ck"))
        q.awaitTermination()
        t1 = time.time()
        prog = list(q.recentProgress)
        return Pass(
            wall_s=t1 - t0, t0_ms=t0 * 1000, t1_ms=t1 * 1000,
            batch_s=_durations(prog), progress=prog, main=prog,
            timer=timer, sinks=(pipe.docs_sink, pipe.index_sink), pipe=pipe,
        )

    def checks(self, spark: SparkSession, passes: list[Pass]) -> list[Check]:
        out = []
        for p in passes:
            admitted = sink_output(p.pipe.docs_sink)["rows"]
            out.append(count_check(
                "admitted_docs", admitted,
                self.expected.get("unique", 0) + self.expected.get("near", 0),
            ))
        last = passes[-1].pipe
        flagged = last.documents(spark).filter("near_dup").count()
        anchors = last.index(spark).filter(F.col("band") == -1).count()
        out.append(count_check("near_dup_flagged", flagged, self.expected.get("near", 0)))
        out.append(count_check("index_anchor_per_admitted_doc", anchors,
                               sink_output(last.docs_sink)["rows"]))
        return out

    def layers(self, spark: SparkSession, passes: list[Pass]) -> dict[str, float]:
        n = max(1, len(passes))
        admitted = sum(sink_output(p.pipe.docs_sink)["rows"] for p in passes) / n
        add_batch_s = sum(
            b.durationMs.get("addBatch", 0) for p in passes for b in p.progress
        ) / 1000.0 / n
        out = _engine_layer(passes) | _sink_layer(passes)
        out |= {
            "sink.staging_s": add_batch_s - out["sink.write_s"],
            "dedup.index_rows": sum(sink_output(p.pipe.index_sink)["rows"] for p in passes) / n,
            "dedup.admitted": admitted,
            "dedup.exact_dropped": self.records - admitted,
            "dedup.near_flagged": passes[-1].pipe.documents(spark).filter("near_dup").count(),
        }
        return out


VOCAB = (
    "a the data spark stream batch join scan sort hash group filter query table"
    " row column key value order line part customer vector window merge agg"
    " fast slow big small"
).split()


def write_seeded_corpus(path: str, n_docs: int, seed: int, n_vecs: int = 256) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` in the testdata
    schema and vocabulary. The seed picks every doc's words and length
    (10-100 of 30 words) and which docs repeat an earlier one: 15% exact
    copies and 15% near copies with one word replaced by ``dup``, so the
    dedup and span queries find work. The embeddings are only there
    because ``oracle_sql()`` derives its ANN literals from them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(seed)
    texts: list[str] = []
    for _ in range(n_docs):
        u = rnd.random()
        if texts and u < 0.15:
            text = rnd.choice(texts)
        elif texts and u < 0.30:
            words = rnd.choice(texts).split()
            words[rnd.randrange(len(words))] = "dup"
            text = " ".join(words)
        else:
            text = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 100)))
        texts.append(text)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(("en", "de", "es", "fr", "zh")) for _ in texts],
        "source": [f"src{rnd.randrange(20)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(
            [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(n_vecs)],
            pa.list_(pa.float32()),
        ),
        "label": pa.array([rnd.randrange(10) for _ in range(n_vecs)], pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))


def correctness_helpers():
    """``tools/check_correctness.py`` of this checkout, for its comparison
    helpers. Loading it prepends its own repository path to ``sys.path``;
    the path is restored so later imports still resolve here."""
    import importlib.util

    import __spark_entry__  # noqa: F401  (cached before the module imports it)

    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class CurateOps(Workload):
    """Four corpus operators from ``__spark_entry__.queries()``, each
    written to ``noop``, over a seeded corpus in the testdata layout. One
    pass runs all four; its wall time is the suite time."""

    name = "curate_ops"
    unit_name = "docs"
    records = 500
    queries = ("dedup_incremental_verified", "span_dedup", "bpe_encode", "dedup_clusters")
    extra_units = {
        f"ops.{q}.{m}": u
        for q in queries
        for m, u in (("s", "s"), ("cpu_ms", "ms"), ("shuffle_bytes", "bytes"), ("jobs", "count"))
    }

    def write_input(self, spark: SparkSession) -> None:
        write_seeded_corpus(self.input_dir, self.records, self.seed)

    def run_pass(self, spark: SparkSession) -> Pass:
        import __spark_entry__ as entry

        qs, spans = entry.queries(), {}
        for q in self.queries:
            t0 = time.time()
            qs[q](spark, self.input_dir).write.format("noop").mode("overwrite").save()
            spans[q] = (t0 * 1000, time.time() * 1000)
        secs = [(b - a) / 1000 for a, b in spans.values()]
        first, last = spans[self.queries[0]][0], spans[self.queries[-1]][1]
        return Pass(wall_s=sum(secs), t0_ms=first, t1_ms=last, batch_s=secs, spans=spans)

    def checks(self, spark: SparkSession, passes: list[Pass]) -> list[Check]:
        """Each query once against its DuckDB oracle, by the rules of
        ``tools/check_correctness.py``: columns, type classes, row count
        and the multiset of normalised rows."""
        import duckdb

        import __spark_entry__ as entry

        cc = correctness_helpers()
        # oracles that derive literals from the data read them from here
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.input_dir
        oracles, qs = entry.oracle_sql(), entry.queries()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.input_dir}/{t}.parquet'")
        out = []
        for q in self.queries:
            sdf = qs[q](spark, self.input_dir)
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(oracles[q])
            dcols, dtypes, drows = list(rel.columns), [str(t) for t in rel.types], rel.fetchall()
            problems = []
            if sorted(sdf.columns) != sorted(dcols):
                problems.append(f"columns {sorted(sdf.columns)} vs {sorted(dcols)}")
            else:
                problems += cc.type_mismatches(sdf, list(zip(dcols, dtypes)))
            if not problems and cc.rows_multiset(sdf.columns, srows) != cc.rows_multiset(dcols, drows):
                problems.append(f"rows differ ({len(srows)} vs {len(drows)})")
            out.append(Check(f"{q}_equals_oracle", not problems,
                             "; ".join(problems) or f"{len(srows)} rows"))
        con.close()
        return out

    def layers(self, spark: SparkSession, passes: list[Pass]) -> dict[str, float]:
        return {}

    def trace_layers(self, log: eventlog.EventLog, passes: list[Pass]) -> dict[str, float]:
        out = {}
        for q in self.queries:
            spans = [p.spans[q] for p in passes]
            tot = eventlog.window_totals(log, spans)
            out[f"ops.{q}.s"] = median([(b - a) / 1000 for a, b in spans])
            out |= {f"ops.{q}.{k}": v for k, v in tot.items()}
        return out


WORKLOADS = {w.name: w for w in (StreamHarmonize, BatchHarmonize, StreamDedup, CurateOps)}
