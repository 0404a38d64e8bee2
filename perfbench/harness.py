"""Session, scratch space and measurement helpers shared by the workloads.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
current directory (the checkout root), including Spark's local dirs, the
JVM temp dir and the event log.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import threading
import time

import pyspark
from pyspark.sql import SparkSession

from healthcare_data_harmonization_dataflow_spark.session import build_session

HEAP = "2g"  # driver heap cap, well below host RAM
SHUFFLE_PARTITIONS = 4  # also the state partition count of every stream
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def start_session(workdir: str, event_log_dir: str | None = None) -> SparkSession:
    """``local[nproc]`` with a fixed heap, fixed partition counts and all
    scratch under ``workdir``; with ``event_log_dir`` the session writes an
    uncompressed event log there."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": tmp,
        # -Xms at the cap: the heap does not resize, so its resident size
        # varies less between runs
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_log_dir,
            }
        )
    return build_session(
        app_name="perfbench",
        master=f"local[{os.cpu_count()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def tree_pids(root: int) -> set[int]:
    """Every descendant of ``root`` (not ``root`` itself): for the
    benchmark process, the driver JVM and its Python workers."""
    children = _children()
    out, todo = set(), list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_pss_bytes(root: int) -> dict[str, int]:
    """Summed proportional set size of the driver JVM (a child of ``root``)
    and every Python process below ``root``, by executable name. PSS
    counts a page a forked Python worker shares with its daemon once, not
    once per process. Other descendants are skipped: a child the JVM is
    spawning shares the JVM's memory map until it execs, and would count
    the JVM twice."""
    children = _children()
    pids = [(p, True) for p in children.get(root, [])]
    total: dict[str, int] = {}
    while pids:
        pid, top = pids.pop()
        pids.extend((c, False) for c in children.get(pid, []))
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            if not (exe.startswith("python") or (top and exe == "java")):
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total[exe] = total.get(exe, 0) + int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed resident memory (PSS) of this process's JVM and Python
    workers, polled while open; ``peak_by_name`` splits it by executable
    at the peak."""

    # one poll reads every page table of a 2.6 GB process tree (about 30 ms
    # on 4 cores), so polling more often loads a core the passes need
    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            by_name = _tree_pss_bytes(os.getpid())
            if sum(by_name.values()) > self.peak:
                self.peak, self.peak_by_name = sum(by_name.values()), by_name
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class SinkTimer:
    """Wall time spent in the public ``write_batch`` of sink instances."""

    def __init__(self, *sinks):
        self.seconds = 0.0
        self.calls = 0
        self._lock = threading.Lock()
        for sink in sinks:
            self._wrap(sink)

    def _wrap(self, sink) -> None:
        inner = sink.write_batch

        def timed(df, batch_id):
            t0 = time.perf_counter()
            try:
                inner(df, batch_id)
            finally:
                with self._lock:
                    self.seconds += time.perf_counter() - t0
                    self.calls += 1

        sink.write_batch = timed


def sink_output(*sinks) -> dict[str, int]:
    """Committed batches, files and bytes of sinks, from their lineage."""
    markers = [m for s in sinks for m in s.lineage()]
    parts = [p for m in markers for p in m.get("partitions", [])]
    return {
        "batches": len(markers),
        "files": len(parts),
        "bytes": sum(p.get("bytes", 0) for p in parts),
        "rows": sum(m.get("rows", 0) for m in markers),
    }


def source_digest() -> str:
    """sha256 over the package sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "healthcare_data_harmonization_dataflow_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def host_meta() -> dict:
    return {
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "heap": HEAP,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
    }
