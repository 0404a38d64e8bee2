"""Per-layer accounting from a Spark event log, with the stdlib only.

The session must run with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; Spark 4 then writes a rolling
``eventlog_v2_<app>/events_<n>_<app>`` directory of JSON lines.

Each completed stage is attributed to one layer by the physical operators
it ran. A SQL plan splits into fragments at its ``Exchange`` nodes; a
stage runs one fragment. A stage names its fragment through the metric
accumulators its tasks updated, each owned by one plan node, and the
fragment then lists every operator in it, including those without
metrics such as ``CollectMetrics``. Rules, first match wins:

* ``assembly``  a ``FlatMapGroupsInPandasWithState`` node
  (streaming/assembly.py, the state_v1 handler);
* ``mapping``   a ``CollectMetrics`` node counting ``rows_ok``
  (streaming/metrics.py:observe_mapping, which wraps the mapping output,
  so the stage is scan + mapping + partial aggregate + shuffle write);
* ``bundles``   an aggregate building a ``collect_list``
  (operators/bundles.py:assemble_bundles, the shuffle-read side);
* ``dedup.probe`` a join keyed on ``band_hash``
  (streaming/dedup_stream.py, the LSH probe against the index).

Stages no rule claims are reported as ``unattributed``, never folded into
a layer.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

LAYERS = ("assembly", "mapping", "bundles", "dedup.probe")

_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_START = ("time to start Python workers", "time to initialize Python workers")


def _layer_of(nodes: list[tuple[str, str]]) -> str | None:
    names = {n for n, _ in nodes}
    if "FlatMapGroupsInPandasWithState" in names:
        return "assembly"
    if any(n == "CollectMetrics" and "rows_ok" in s for n, s in nodes):
        return "mapping"
    if any(n in _AGG_NODES and "collect_list" in s for n, s in nodes):
        return "bundles"
    if any(n.endswith("Join") and "band_hash" in s for n, s in nodes):
        return "dedup.probe"
    return None


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ms: float
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Stage:
    stage_id: int
    attempt: int
    submit_ms: int
    complete_ms: int
    layer: str | None
    accum: dict[str, int] = field(default_factory=dict)  # SQL metric name -> stage total
    tasks: list[Task] = field(default_factory=list)

    def total(self, attr: str) -> float:
        return sum(getattr(t, attr) for t in self.tasks)

    def skew(self) -> float:
        """Longest task over the median task, by task wall time."""
        d = [t.finish_ms - t.launch_ms for t in self.tasks]
        med = statistics.median(d) if d else 0
        return max(d) / med if med > 0 else 1.0


@dataclass
class EventLog:
    stages: list[Stage]
    jobs: list[tuple[int, int]]  # (job id, submission ms)


def event_files(log_dir: str) -> list[str]:
    """The uncompressed ``events_*`` files of every application under
    ``log_dir``, in writing order."""
    def index(path: str) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return os.path.dirname(path), int(m.group(1)) if m else 0

    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files = [f for f in files if not f.endswith((".zstd", ".lz4", ".snappy", ".crc"))]
    return sorted(files, key=index)


def _walk(plan: dict, frag: int, frags: dict, owner: dict, counter: list) -> None:
    """Record the operators of each fragment and the fragment owning each
    metric accumulator. An Exchange's metrics are updated on both of its
    sides, so they name no fragment."""
    frags.setdefault(frag, []).append((plan["nodeName"], plan.get("simpleString", "")))
    boundary = "Exchange" in plan["nodeName"]
    if not boundary:
        for m in plan.get("metrics", []):
            owner[m["accumulatorId"]] = frag
    for child in plan.get("children", []):
        if boundary:
            counter[0] += 1
        _walk(child, counter[0] if boundary else frag, frags, owner, counter)


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def parse(log_dir: str) -> EventLog:
    frags: dict[int, list[tuple[str, str]]] = {}
    owner: dict[int, int] = {}
    counter = [0]
    tasks: dict[tuple[int, int], list[Task]] = {}
    done: list[dict] = []
    jobs: list[tuple[int, int]] = []
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    counter[0] += 1
                    _walk(ev["sparkPlanInfo"], counter[0], frags, owner, counter)
                elif kind == "SparkListenerTaskEnd" and ev["Task Info"].get("Finish Time"):
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    tasks.setdefault(key, []).append(_task(ev))
                elif kind == "SparkListenerStageCompleted":
                    done.append(ev["Stage Info"])
                elif kind == "SparkListenerJobStart":
                    jobs.append((ev["Job ID"], ev["Submission Time"]))
    stages = []
    for info in done:
        ran, accum = set(), {}
        for a in info.get("Accumulables", []):
            if a["ID"] in owner:
                ran.add(owner[a["ID"]])
                try:
                    accum[a["Name"]] = accum.get(a["Name"], 0) + int(a["Value"])
                except (TypeError, ValueError):
                    pass
        nodes = [node for f in ran for node in frags[f]]
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        stages.append(
            Stage(
                stage_id=key[0],
                attempt=key[1],
                submit_ms=info.get("Submission Time", 0),
                complete_ms=info.get("Completion Time", 0),
                layer=_layer_of(nodes),
                accum=accum,
                tasks=tasks.get(key, []),
            )
        )
    return EventLog(stages=stages, jobs=jobs)


def _within(t_ms: int, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


def _covered_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def window_totals(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Executor CPU, shuffle bytes (read + written) and jobs of everything
    submitted inside ``windows``, per window: the cost of one query when
    each window spans one run of it."""
    n = max(1, len(windows))
    tasks = [t for s in log.stages if _within(s.submit_ms, windows) for t in s.tasks]
    return {
        "cpu_ms": sum(t.cpu_ms for t in tasks) / n,
        "shuffle_bytes": sum(t.shuffle_read_bytes + t.shuffle_write_bytes for t in tasks) / n,
        "jobs": sum(1 for _, t in log.jobs if _within(t, windows)) / n,
    }


def layer_report(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Per-layer totals for the stages submitted inside ``windows``
    (epoch-ms intervals, one per measured pass), divided by the number of
    windows so every figure is per pass."""
    n = max(1, len(windows))
    stages = [s for s in log.stages if _within(s.submit_ms, windows)]
    by_layer: dict[str | None, list[Stage]] = {}
    for s in stages:
        by_layer.setdefault(s.layer, []).append(s)

    def tot(layer: str, attr: str) -> float:
        return sum(s.total(attr) for s in by_layer.get(layer, [])) / n

    def accum(layer: str, name: str) -> float:
        return sum(s.accum.get(name, 0) for s in by_layer.get(layer, [])) / n

    def skew(layer: str) -> float:
        ratios = [s.skew() for s in by_layer.get(layer, []) if len(s.tasks) > 1]
        return statistics.median(ratios) if ratios else 0.0

    tasks = [t for s in stages for t in s.tasks]
    gap = sum(
        (b - a) - _covered_ms([(t.launch_ms, t.finish_ms) for t in tasks], a, b)
        for a, b in windows
    ) / n
    attributed = sum(tot(layer, "run_ms") for layer in LAYERS)
    return {
        "mapping.run_ms": tot("mapping", "run_ms"),
        "mapping.cpu_ms": tot("mapping", "cpu_ms"),
        "mapping.gc_ms": tot("mapping", "gc_ms"),
        "mapping.shuffle_write_bytes": tot("mapping", "shuffle_write_bytes"),
        "mapping.tasks": sum(len(s.tasks) for s in by_layer.get("mapping", [])) / n,
        "bundles.run_ms": tot("bundles", "run_ms"),
        "bundles.cpu_ms": tot("bundles", "cpu_ms"),
        "bundles.shuffle_read_bytes": tot("bundles", "shuffle_read_bytes"),
        "bundles.spill_bytes": tot("bundles", "spill_bytes"),
        "bundles.task_ms_max_over_median": skew("bundles"),
        "assembly.run_ms": tot("assembly", "run_ms"),
        "assembly.cpu_ms": tot("assembly", "cpu_ms"),
        "assembly.gc_ms": tot("assembly", "gc_ms"),
        "assembly.python_bytes_sent": accum("assembly", _PY_SENT),
        "assembly.python_bytes_received": accum("assembly", _PY_RECV),
        "assembly.python_run_ms": accum("assembly", _PY_RUN),
        "assembly.python_start_ms": sum(accum("assembly", k) for k in _PY_START),
        "assembly.task_ms_max_over_median": skew("assembly"),
        "dedup.probe.run_ms": tot("dedup.probe", "run_ms"),
        "dedup.probe.shuffle_bytes": tot("dedup.probe", "shuffle_write_bytes")
        + tot("dedup.probe", "shuffle_read_bytes"),
        "engine.driver_gap_ms": gap,
        "engine.jobs": sum(1 for _, t in log.jobs if _within(t, windows)) / n,
        "unattributed_ms": sum(t.run_ms for t in tasks) / n - attributed,
    }
