"""Exactly-once idempotent sink with per-partition lineage.

The reference achieves at-least-once delivery with HTTP retry x10
(HttpHealthcareApiClient.java:678-694); exactly-once is delegated to FHIR
server idempotency. This engine owns it instead: a batchId-keyed commit
protocol over a parquet table layout (the Iceberg-snapshot pattern,
self-contained so tests run without an Iceberg catalog; on a cluster the
same ``foreachBatch`` body would be a single Iceberg MERGE/append which
carries the batchId in snapshot properties).

Protocol per micro-batch:
1. if ``_commits/<batchId>.json`` holds a valid marker -> **skip** (replay
   after restart);
2. write batch data to ``data/batch=<batchId>/`` (overwrite: a partial
   write from a crashed attempt is harmlessly clobbered);
3. write the commit marker LAST, as ONE direct write of the whole file:
   made durable (``fsync`` of the file and of its directory on POSIX; a
   completed create on a Hadoop FileSystem, which on S3/GCS is one
   all-or-nothing PUT), then read back and compared. A mismatch raises,
   so ``foreachBatch`` fails, the checkpoint does not advance and the
   batch replays.

Why one direct write is safe on every filesystem: readers accept a marker
only if it parses as a JSON object carrying the matching batch_id
(``_parse_marker``). A JSON object is not valid until its closing brace,
the marker's last byte, is written, so a marker torn by a crash mid-write
counts as uncommitted; the replay overwrites the data directory and
rewrites the marker — no loss, no duplication. No rename is involved, so
the same step runs on stores that have no rename or only emulate it
(copy + delete).

``read_committed`` reconstructs the table from committed batches only, so a
crash between (2) and (3) loses nothing and duplicates nothing: the rerun
batch rewrites the same directory and then commits.

Lineage: each marker records the batch's exact ``rows`` (an Observation
riding the write job — no second pass), its ``schema`` (the shape of an
empty ``read_committed``) and, per data file, ``partition_id``, ``bytes``
and ``file`` from ONE directory listing — no per-file open on any
filesystem.

Filesystems: ``base_dir`` may be a plain local path OR any URI the
cluster's Hadoop configuration speaks (``hdfs://``, ``s3a://``, ``gs://``,
``dbfs:/...`` via its Hadoop adapter). All listing/commit I/O goes through
a small FS facade — local ``os`` calls for POSIX paths, the Hadoop
FileSystem API (driver-side, via the session JVM) otherwise.
"""

from __future__ import annotations

import json
import os
import re
import time
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_PART_RE = re.compile(r"part-(\d+)-")


def _partition_id(fname: str, default: int) -> int:
    """Parse the task partition id from Spark's part-file name, defensively:
    an unexpected naming scheme falls back to the enumeration index instead
    of raising mid-commit."""
    m = _PART_RE.match(fname)
    return int(m.group(1)) if m else default


class _LocalFs:
    """POSIX path operations (the fast path for tests and local runs)."""

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def list_files(self, path: str) -> list[tuple[str, int]]:
        """(name, byte size) pairs — one directory scan."""
        return sorted(
            (f, os.path.getsize(os.path.join(path, f)))
            for f in os.listdir(path)
        )

    def read_text(self, path: str) -> str:
        # newline="": the file's exact text, like _HadoopFs.read_text
        with open(path, encoding="utf-8", newline="") as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())  # marker must survive power loss: the
            # checkpoint advances after we return, so a lost marker means
            # a batch that never replays and silently disappears
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)  # persist a new file's directory entry too
        finally:
            os.close(dfd)

    def delete(self, path: str) -> None:
        import shutil

        # strict like _HadoopFs.delete: a swallowed failure here would
        # silently leak staged batch copies (the exact no-op failure mode
        # FanOutSink documents); only a missing path is fine
        if os.path.exists(path):
            shutil.rmtree(path)


class _HadoopFs:
    """Any-scheme operations through the Hadoop FileSystem API (driver-side
    JVM calls — metadata-only, a handful per batch)."""

    def __init__(self, spark: SparkSession, base_uri: str):
        self._jvm = spark._jvm
        self._fs = self._path(base_uri).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def _path(self, uri: str):
        return self._jvm.org.apache.hadoop.fs.Path(uri)

    def mkdirs(self, path: str) -> None:
        # Hadoop reports most failures by returning false, not throwing —
        # an unchecked false here would let a failed commit-marker write
        # pass silently (checkpoint advances, batch never replays)
        if not self._fs.mkdirs(self._path(path)):
            raise IOError(f"mkdirs failed: {path}")

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._path(path))

    def isdir(self, path: str) -> bool:
        p = self._path(path)
        return self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory()

    def listdir(self, path: str) -> list[str]:
        statuses = self._fs.listStatus(self._path(path))
        return sorted(s.getPath().getName() for s in statuses)

    def list_files(self, path: str) -> list[tuple[str, int]]:
        """(name, byte size) pairs from ONE listStatus call — the statuses
        already carry lengths, so lineage needs no per-file open/read."""
        statuses = self._fs.listStatus(self._path(path))
        return sorted((s.getPath().getName(), s.getLen()) for s in statuses)

    def read_text(self, path: str) -> str:
        """The file's exact text; a missing file raises FileNotFoundError,
        as ``open`` does for _LocalFs — told apart by the JVM's
        ``java.io.FileNotFoundException`` (or a subclass), with no second
        filesystem call."""
        try:
            stream = self._fs.open(self._path(path))
            try:
                return stream.readAllBytes().decode("utf-8")
            finally:
                stream.close()
        except Py4JJavaError as exc:
            missing = self._jvm.java.lang.Class.forName(
                "java.io.FileNotFoundException"
            )
            if missing.isInstance(exc.java_exception):
                raise FileNotFoundError(path) from exc
            raise

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()  # on S3/GCS the single PUT completes here

    def delete(self, path: str) -> None:
        p = self._path(path)
        if not self._fs.delete(p, True) and self._fs.exists(p):
            raise IOError(f"recursive delete failed: {path}")


def _is_local(path: str) -> bool:
    """Scheme-less POSIX paths use os.* directly; ANY URI — including
    file:// — goes through the Hadoop FileSystem API, so the remote code
    path is exercised by ordinary local tests with file:// sinks."""
    return urlparse(path).scheme == ""


def fs_for(path: str, spark: SparkSession | None = None) -> "_LocalFs | _HadoopFs":
    """The FS facade for ``path``'s scheme; a URI needs a session (``spark``
    or the active one) for the Hadoop FileSystem API."""
    if _is_local(path):
        return _LocalFs()
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"{path!r} needs a SparkSession for the Hadoop FileSystem API; "
            "pass spark="
        )
    return _HadoopFs(spark, path)


class ExactlyOnceParquetSink:
    def __init__(
        self,
        base_dir: str,
        name: str = "sink",
        num_shards: int | None = None,
        spark: SparkSession | None = None,
    ):
        if num_shards is not None and num_shards < 1:
            raise ValueError(f"num_shards must be None or >= 1, got {num_shards}")
        self.base_dir = base_dir
        self.name = name
        self.num_shards = num_shards  # reference's --errorLogShardNum analogue
        self._spark = spark
        self._fs_cache = None
        if _is_local(self.base_dir):
            self._fs().mkdirs(self._commits_dir)

    def _fs(self):
        if self._fs_cache is None:
            self._fs_cache = fs_for(self.base_dir, self._spark)
        return self._fs_cache

    @property
    def _commits_dir(self) -> str:
        return os.path.join(self.base_dir, "_commits")

    def _commit_path(self, batch_id: int) -> str:
        return os.path.join(self._commits_dir, f"{batch_id}.json")

    def _parse_marker(self, batch_id: int, *, strict: bool = False) -> "dict | None":
        """The single validity rule every reader shares: a marker counts
        only if its bytes read, parse as a JSON OBJECT, and carry the
        matching batch_id. A missing file (never written, or vanished
        between list and read — both filesystem layers raise
        FileNotFoundError), a torn copy, or scalar JSON like '5' (which
        would raise AttributeError on .get) is UNCOMMITTED: the data
        directory is overwrite-idempotent, so the worst case is a safe
        replay. The read itself tells a missing marker apart, with no
        exists() probe before it.

        A TRANSIENT read failure on a file that still exists is treated
        differently per caller. The write path (``strict=False``,
        is_committed) maps it to uncommitted — worst case a safe replay.
        Reader-facing paths (``strict=True``: read_committed / lineage /
        committed_batches) retry once and then RAISE: a committed batch
        must never silently vanish from a downstream consumer's dataset
        because of one flaky FS read."""
        fs = self._fs()  # outside the try: config errors must still raise
        path = self._commit_path(batch_id)
        try:
            text = fs.read_text(path)
        except FileNotFoundError:
            return None
        except Exception as exc:
            if not strict:
                return None  # write path: replay is safe and self-healing
            try:
                text = fs.read_text(path)  # one retry for transient blips
            except FileNotFoundError:
                return None
            except Exception:
                raise IOError(
                    f"committed marker unreadable (batch {batch_id}): {path}"
                ) from exc
        try:
            doc = json.loads(text)
        except ValueError:
            return None  # torn / corrupt marker bytes: uncommitted
        if not isinstance(doc, dict) or doc.get("batch_id") != batch_id:
            return None
        return doc

    def is_committed(self, batch_id: int) -> bool:
        """A marker counts only if it PARSES with the matching batch_id: a
        torn marker (a crash mid-write) is treated as uncommitted, so the
        replay self-heals it — the data directory is overwrite-idempotent
        and the marker is rewritten."""
        return self._parse_marker(batch_id) is not None

    def _data_dir(self, batch_id: int) -> str:
        return os.path.join(self.base_dir, "data", f"batch={batch_id}")

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Idempotent under Structured Streaming's replay:
        the batchId is stable across restarts for the same epoch."""
        if self._spark is None:
            self._spark = df.sparkSession
        if self.is_committed(batch_id):
            return  # replayed epoch — exactly-once guard
        out = df
        if self.num_shards:
            # a rebalance, NOT coalesce: coalesce is a narrow dependency
            # that caps the parallelism of the ENTIRE upstream plan (scan +
            # mapping) at num_shards; a rebalance shuffles only the output
            # rows and leaves upstream parallelism alone. Unlike
            # repartition(n), AQE coalesces its num_shards partitions by
            # size, so a batch of a few error rows writes one file
            out = out.hint("rebalance", self.num_shards)
        # exact row count rides the write itself via an Observation — no
        # second pass, no per-file I/O, fully distributed (the count is
        # aggregated executor-side during the one write job)
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        fs = self._fs()
        path = self._data_dir(batch_id)
        out.write.mode("overwrite").parquet(path)
        total_rows = int(obs.get["rows"])
        # per-partition lineage from ONE directory listing: names and byte
        # sizes come from the same listStatus, never a per-file open
        data_files = [
            (fname, size)
            for fname, size in fs.list_files(path)
            if fname.endswith(".parquet") and not fname.startswith((".", "_"))
        ]
        # fallback index counts DATA files only: enumerating the raw listing
        # (with _SUCCESS / hidden entries) would shift fallback ids and let
        # them collide with parsed ones
        lineage = [
            {"partition_id": _partition_id(fname, i), "bytes": size, "file": fname}
            for i, (fname, size) in enumerate(data_files)
        ]
        commit = {
            "batch_id": batch_id,
            "rows": total_rows,
            "schema": out.schema.json(),  # read_committed's empty-table shape
            "partitions": sorted(lineage, key=lambda p: p["partition_id"]),
            "committed_at": time.time(),
            "sink": self.name,
        }
        fs.mkdirs(self._commits_dir)
        marker = json.dumps(commit)
        marker_path = self._commit_path(batch_id)
        fs.write_text(marker_path, marker)
        # read-back: a lost or torn write raises here, so the checkpoint
        # does not advance and the batch replays
        if fs.read_text(marker_path) != marker:
            raise IOError(f"commit marker verify failed: {marker_path}")

    def foreach_batch(self):
        return lambda df, batch_id: self.write_batch(df, batch_id)

    def _committed_markers(self) -> "list[tuple[int, dict]]":
        """One listing + ONE read per marker (the old shape re-probed
        exists() and re-read each marker in committed_batches, lineage
        AND read_committed — 3 driver-side FS round trips per marker per
        call, minutes per micro-batch at 10k batches on an object
        store). Same validity rule as is_committed via _parse_marker."""
        fs = self._fs()
        if not fs.isdir(self._commits_dir):
            return []
        pairs = []
        for f in fs.listdir(self._commits_dir):
            if f.endswith(".json") and f[:-5].isdigit():
                b = int(f[:-5])
                doc = self._parse_marker(b, strict=True)
                if doc is not None:
                    pairs.append((b, doc))
        pairs.sort(key=lambda p: p[0])
        return pairs

    def committed_batches(self) -> list[int]:
        return [b for b, _ in self._committed_markers()]

    def lineage(self) -> list[dict]:
        return [doc for _, doc in self._committed_markers()]

    def read_committed(self, spark: SparkSession) -> DataFrame:
        got = self._read_history(spark)
        if got is None:
            return spark.createDataFrame([], "conv_id string")  # no history
        return got

    def _read_history(self, spark: SparkSession) -> "DataFrame | None":
        """read_committed from one marker pass, or None when no commit
        records a schema (nothing was ever committed)."""
        if self._spark is None:
            self._spark = spark
        fs = self._fs()
        markers = self._committed_markers()
        paths = [b for b, _ in markers if fs.isdir(self._data_dir(b))]
        if not paths:
            # empty table: recover the real schema from the latest commit
            # (recorded at write time) so callers can select/filter the
            # same columns they would on a populated sink
            from pyspark.sql.types import StructType

            for _, c in reversed(markers):
                if "schema" in c:
                    return spark.createDataFrame(
                        [], StructType.fromJson(json.loads(c["schema"]))
                    )
            return None
        return spark.read.parquet(*[self._data_dir(b) for b in paths])


class FanOutSink:
    """One foreachBatch fanning out to multiple exactly-once sinks under a
    shared batchId guard — the multi-sink atomicity strategy of SURVEY §7.4
    risk 3 (ok bundles + dead-letter + metrics from a single pass).

    The batch is STAGED to parquet once and every route reads the staged
    copy: the source plan executes exactly once per batch without
    ``df.cache()`` (which at production batch sizes evicts or spills the
    executors' storage memory). Staging lives beside the
    sinks and is deleted after all routes commit; a replayed epoch whose
    routes are all committed skips the staging write entirely.
    """

    def __init__(
        self,
        routes: list[tuple[ExactlyOnceParquetSink, "callable"]],
        staging_dir: str,
    ):
        self.routes = routes
        self.staging_dir = staging_dir

    def foreach_batch(self):
        def fn(df: DataFrame, batch_id: int):
            # propagate the session FIRST: is_committed() may be the first
            # remote-FS access, and the foreachBatch callback thread has no
            # active session for _HadoopFs to fall back on
            for sink, _ in self.routes:
                if sink._spark is None:
                    sink._spark = df.sparkSession
            # the staging filesystem follows staging_dir's OWN scheme — a
            # sink-derived FS with a different scheme would make the
            # finally-delete a silent no-op and leak a staged batch copy
            fs = fs_for(self.staging_dir, df.sparkSession)
            staged_path = os.path.join(self.staging_dir, f"batch={batch_id}")
            if all(sink.is_committed(batch_id) for sink, _ in self.routes):
                # fully-committed replay: nothing to stage — but a crash
                # BETWEEN the last route commit and the staging delete may
                # have orphaned a staged copy; clean it now (batch ids are
                # never revisited after this)
                if fs.exists(staged_path):
                    fs.delete(staged_path)
                return
            # Reuse an existing COMPLETE staged copy (previous attempt that
            # failed after staging but before all routes committed): with a
            # nondeterministic upstream (e.g. attempt_ingest's real RPCs),
            # re-executing the plan would let already-committed sinks and
            # retried sinks disagree. One execution's results must feed
            # every sink across retries; _SUCCESS marks completeness.
            if not fs.exists(os.path.join(staged_path, "_SUCCESS")):
                df.write.mode("overwrite").parquet(staged_path)
            staged = df.sparkSession.read.parquet(staged_path)
            for sink, selector in self.routes:
                sink.write_batch(selector(staged), batch_id)
            # delete staging only after ALL routes committed — a partial
            # failure keeps the staged copy for the retry to reuse
            fs.delete(staged_path)

        return fn
