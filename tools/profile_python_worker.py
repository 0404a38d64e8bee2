"""Where the Python workers of the streaming harmonize pipeline spend CPU.

Usage: python tools/profile_python_worker.py [--seed N] [--passes N]
           [--top N] [--profile 0|1]

Runs perfbench's ``stream_harmonize`` workload (``HarmonizationPipeline``
with ``state_v1`` assembly draining 6,000 seeded turns, bundles and
dead-letter queries together): one warm-up pass, then ``--passes``
measured ones. For every pass it prints the wall time and the CPU the
Python worker processes used, read from ``/proc`` as utime + stime of every
Python process under the driver plus the reaped children of each (a
Python worker that exits is reaped by its daemon). It also prints the CPU
of the processes the JVM forked and reaped during the pass (cutime +
cstime of the JVM): without the Hadoop native library, Hadoop runs some
file-system calls as subprocesses (``chmod`` on file create, and
``readlink`` on every rename through ``FileContext``).

The session starts its Python daemon from this file through
``spark.python.daemon.module``: PySpark's own daemon, except that it times
in CPU seconds each worker task (one ``worker_main`` call), the task's
``setup_spark_files``, where ``importlib.invalidate_caches()`` re-reads the
zips on ``sys.path``, and the daemon loop a reused worker runs between two
tasks. With ``--profile 1`` (the default) each
task also runs under ``cProfile`` with a CPU-time clock, and the script
prints the functions with the most cumulative CPU summed over the measured
tasks, with their calls per task. cProfile's per-call cost inflates code
that makes many small calls (pandas, the zip directory parser), so take
CPU totals from ``--profile 0`` runs. The conf is this tool's alone: the
engine never sets it.

Scratch data goes to a temporary directory that is deleted at the end.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pstats
import shutil
import sys
import tempfile
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
# set by the driver below for the daemon it makes Spark start
_OUT_ENV = "PROFILE_PYTHON_WORKER_OUT"
_CPROFILE_ENV = "PROFILE_PYTHON_WORKER_CPROFILE"


def _daemon(out_dir: str, use_cprofile: bool) -> None:
    """PySpark's daemon with every worker task timed (and profiled) into
    ``out_dir``."""
    import cProfile
    import itertools

    import pyspark.daemon as daemon
    import pyspark.worker as worker

    run_task, setup_files = daemon.worker_main, worker.setup_spark_files
    seq = itertools.count()
    setup_cpu = [0.0]

    def timed_setup_files(infile):
        c0 = time.process_time()
        try:
            return setup_files(infile)
        finally:
            setup_cpu[0] += time.process_time() - c0

    def timed_task(infile, outfile):
        prof = cProfile.Profile(time.process_time) if use_cprofile else None
        setup_cpu[0] = 0.0
        c0 = time.process_time()
        try:
            if prof is None:
                return run_task(infile, outfile)
            return prof.runcall(run_task, infile, outfile)
        finally:
            c1 = time.process_time()
            stem = os.path.join(out_dir, f"task-{os.getpid()}-{next(seq):06d}")
            if prof is not None:
                prof.dump_stats(stem + ".prof")
            with open(stem + ".json", "w") as f:
                json.dump({"start": c0, "end": c1, "setup_files_s": setup_cpu[0]}, f)

    worker.setup_spark_files = timed_setup_files
    daemon.worker_main = timed_task
    daemon.manager()


def _tree_cpu_s(tree_pids) -> tuple[float, float]:
    """CPU seconds below this process: utime + stime (+ reaped children's)
    of every Python process, and the reaped children's cutime + cstime of
    the JVM, which are the short-lived processes it forks (a Python
    daemon that runs for the whole session is not among them)."""
    python = jvm = 0
    for pid in tree_pids(os.getpid()):
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if exe.startswith("python"):
            python += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        elif exe == "java":
            jvm += sum(int(x) for x in fields[13:15])  # cutime cstime
    tck = os.sysconf("SC_CLK_TCK")
    return python / tck, jvm / tck


def _short(path: str) -> str:
    for marker in ("pyspark.zip/", "site-packages/", REPO + "/"):
        if marker in path:
            return path.split(marker, 1)[1]
    return path


def _report(out_dir: str, passes: int, top: int) -> None:
    by_worker: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.json"))):
        with open(path) as f:
            by_worker.setdefault(os.path.basename(path).split("-")[1], []).append(json.load(f))
    tasks = [t for ts in by_worker.values() for t in ts]
    if not tasks:
        print("no worker task finished")
        return
    cpu = sum(t["end"] - t["start"] for t in tasks)
    setup = sum(t["setup_files_s"] for t in tasks)
    # a reused worker runs the daemon's loop between two tasks, which ends
    # in a full gc.collect()
    gaps = [b["start"] - a["end"] for ts in by_worker.values() for a, b in zip(ts, ts[1:])]
    print(
        f"\n{len(tasks) / passes:.1f} worker tasks per measured pass in"
        f" {len(by_worker)} worker processes. CPU per task, mean: in the task"
        f" {cpu / len(tasks) * 1000:.1f} ms, of which setup_spark_files (zip"
        f" re-reads) {setup / len(tasks) * 1000:.1f} ms; between two tasks of one"
        f" worker {sum(gaps) / max(len(gaps), 1) * 1000:.1f} ms"
    )
    files = glob.glob(os.path.join(out_dir, "*.prof"))
    if not files:
        return
    rows = sorted(pstats.Stats(*files).stats.items(), key=lambda kv: kv[1][3], reverse=True)
    print(f"\ntop {top} functions by cumulative CPU under cProfile, summed over tasks")
    print(f"{'cum_s':>8} {'own_s':>8} {'calls/task':>11}  function")
    for (path, line, name), (_cc, nc, tt, ct, _callers) in rows[:top]:
        where = f"{_short(path)}:{line}({name})" if line else name
        print(f"{ct:8.3f} {tt:8.3f} {nc / len(files):11.1f}  {where}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--profile", type=int, choices=(0, 1), default=1)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from healthcare_data_harmonization_dataflow_spark.session import build_session
    from perfbench.harness import SHUFFLE_PARTITIONS, tree_pids
    from perfbench.workloads import StreamHarmonize

    work = tempfile.mkdtemp(prefix="profile_python_worker_")
    out_dir = os.path.join(work, "tasks")
    os.makedirs(out_dir)
    # the daemon is `python -m profile_python_worker`, found on the
    # workers' PYTHONPATH, and reads its settings from the environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (TOOLS, os.environ.get("PYTHONPATH")) if p
    )
    os.environ[_OUT_ENV] = out_dir
    os.environ[_CPROFILE_ENV] = str(args.profile)
    spark = build_session(
        app_name="profile-python-worker",
        master=f"local[{os.cpu_count()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.python.daemon.module": "profile_python_worker",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.enabled": "false",
        },
    )
    try:
        wl = StreamHarmonize(os.path.join(work, "run"), args.seed)
        wl.write_input(spark)
        print(f"nproc {os.cpu_count()}, python {sys.version.split()[0]}, seed {args.seed}")
        t0 = time.time()
        wl.run_pass(spark)
        print(f"warm-up pass: {time.time() - t0:.2f} s")
        time.sleep(1.0)  # a task writes its figures once its worker answered the JVM
        for f in os.listdir(out_dir):
            os.remove(os.path.join(out_dir, f))
        for i in range(args.passes):
            py0, jvm0 = _tree_cpu_s(tree_pids)
            p = wl.run_pass(spark)
            py1, jvm1 = _tree_cpu_s(tree_pids)
            print(
                f"pass {i + 1}: wall {p.wall_s:.2f} s, {wl.records / p.wall_s:.0f} turns/s,"
                f" Python worker CPU {py1 - py0:.2f} s,"
                f" JVM child-process CPU {jvm1 - jvm0:.2f} s"
            )
        time.sleep(1.0)
        _report(out_dir, args.passes, args.top)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if os.environ.get(_OUT_ENV):
        _daemon(os.environ[_OUT_ENV], os.environ.get(_CPROFILE_ENV) == "1")
    else:
        main()
