"""Mapping-config providers: load a config from a path/URI with import-root
support.

Re-expression of the reference's provider package
(MappingConfigProvider.java:9-18, LocalMappingConfigProvider.java:12-24,
GcsMappingConfigProvider.java:18-57, MappingConfigProviderFactory.java:9-15):

* the factory picks a provider by URI scheme (``gs://`` there; any
  Hadoop-known scheme here — ``hdfs://``, ``s3a://``, ``gs://``,
  ``file://`` — via Spark's Hadoop FileSystem, else a plain local file);
* the provider caches the config bytes and re-reads only on ``force``
  (GcsMappingConfigProvider.java:35);
* ``import_root`` names a directory tree of library configs. The reference
  mirrors the whole tree to local disk so the Whistle engine can resolve
  imports (GcsMappingConfigProvider.java:40-52); here the provider resolves
  ``import "relative/path";`` statements itself by splicing the imported
  file's text (cycle-safe, root-escape rejected), so the COMPILED config is
  self-contained and ships to executors inside the task closure — no
  executor-side file access (the SparkContext.addFile analogue, without the
  per-executor read).

Fail-fast contract (MappingFn.java:194-202): a missing/unreadable config
path raises before any data flows.
"""

from __future__ import annotations

import os
import re

from ..functions.mapping_lang import MappingConfigError

_IMPORT_RE = re.compile(r'^\s*import\s+"([^"]+)"\s*;\s*$', re.MULTILINE)


class MappingConfigProvider:
    """Loads mapping-config text; caches until ``force``
    (MappingConfigProvider.java:9-18). The cache keys on ``import_root`` —
    the resolved text depends on it, so a call with a different root must
    re-resolve, not silently return the previous root's splice."""

    def __init__(self) -> None:
        self._cached: dict[str, str] = {}

    def get_mapping_config(self, force: bool = False, import_root: str = "") -> str:
        if force or import_root not in self._cached:
            text = self._read_main()
            self._cached[import_root] = resolve_imports(
                text, import_root, read_file=self._read_import
            )
        return self._cached[import_root]

    # subclass hooks ------------------------------------------------------
    def _read_main(self) -> str:
        raise NotImplementedError

    def _read_import(self, import_root: str, rel: str) -> str:
        raise NotImplementedError


class LocalMappingConfigProvider(MappingConfigProvider):
    """Local-file provider (LocalMappingConfigProvider.java:12-24)."""

    def __init__(self, path: str):
        super().__init__()
        self.path = path

    def _read_main(self) -> str:
        with open(self.path, encoding="utf-8") as f:
            return f.read()

    def _read_import(self, import_root: str, rel: str) -> str:
        with open(os.path.join(import_root, rel), encoding="utf-8") as f:
            return f.read()


class HadoopFsMappingConfigProvider(MappingConfigProvider):
    """Any-scheme provider over Spark's Hadoop FileSystem — the GCS provider
    analogue (GcsMappingConfigProvider.java:18-57) generalized to every
    filesystem the cluster already speaks (hdfs://, s3a://, gs://, file://).
    Runs on the driver only; the resolved text ships in task closures."""

    def __init__(self, uri: str, spark):
        super().__init__()
        self.uri = uri
        self._spark = spark

    def _read_hadoop(self, uri: str) -> str:
        # reuse the sink module's Hadoop-FS facade: one implementation of
        # driver-side FS text reading to maintain, not two
        from ..streaming.sink import _HadoopFs

        fs = _HadoopFs(self._spark, uri)
        if not fs.exists(uri):
            raise FileNotFoundError(f"mapping config not found: {uri}")
        return fs.read_text(uri)

    def _read_main(self) -> str:
        return self._read_hadoop(self.uri)

    def _read_import(self, import_root: str, rel: str) -> str:
        root = import_root.rstrip("/")
        return self._read_hadoop(f"{root}/{rel}")


def resolve_imports(text: str, import_root: str, read_file) -> str:
    """Splice ``import "relative/path";`` statements with the referenced
    file's text, recursively, mirroring the reference's importRoot tree
    download (GcsMappingConfigProvider.java:40-52). Cycles and paths that
    escape the import root fail fast."""
    if not _IMPORT_RE.search(text):
        return text
    if not import_root:
        # GcsMappingConfigProvider.java:37: imports present but no root
        raise MappingConfigError(
            "config contains import statements; re-run with an import_root"
        )

    spliced: set[str] = set()  # files already inlined anywhere in the tree
    stack: list[str] = []  # the ACTIVE import chain — only this detects cycles

    def resolve(t: str) -> str:
        def splice(m: re.Match) -> str:
            rel = m.group(1)
            norm = os.path.normpath(rel)
            if norm.startswith("..") or os.path.isabs(norm):
                raise MappingConfigError(f"import escapes import_root: {rel!r}")
            if norm in stack:
                raise MappingConfigError(
                    f"cyclic import {rel!r} (chain: {' -> '.join(stack)})"
                )
            if norm in spliced:
                # diamond import (two libraries sharing a third): the file
                # is already inlined once, and Whistle tolerates this layout
                # because the reference mirrors the importRoot tree and lets
                # the engine resolve shared imports — splice empty instead
                # of duplicating its projector definitions
                return ""
            spliced.add(norm)
            try:
                imported = read_file(import_root, norm)
            except FileNotFoundError:
                raise MappingConfigError(
                    f"imported config not found under import_root: {rel!r}"
                ) from None
            stack.append(norm)
            try:
                return resolve(imported)
            finally:
                stack.pop()

        return _IMPORT_RE.sub(splice, t)

    return resolve(text)


def create_provider(path: str, spark=None) -> MappingConfigProvider:
    """Scheme-based factory (MappingConfigProviderFactory.java:9-15): a
    scheme-less path is a local file, any URI (``file:/x`` too) goes
    through the Hadoop FileSystem — the sink's rule."""
    from ..streaming.sink import _is_local

    if not _is_local(path):
        if spark is None:
            raise ValueError(
                f"a SparkSession is required to read {path!r} via the Hadoop filesystem"
            )
        return HadoopFsMappingConfigProvider(path, spark)
    return LocalMappingConfigProvider(path)


def load_mapping_config(
    path: str, import_root: str = "", spark=None, force: bool = False
) -> str:
    """One-call load: factory + read + import resolution -> config text
    ready for ``compile_mapping``/``apply_mapping``.

    A DataHarmonization engine-config envelope (the EP2 runner's
    main.textproto shape — library_config + structure_mapping_config) is
    detected and delegated to :mod:`.engine_config`, which inlines every
    referenced user library plus the main config."""
    text = create_provider(path, spark).get_mapping_config(
        force=force, import_root=import_root
    )
    from .engine_config import _inline_engine_config, looks_like_engine_config

    if looks_like_engine_config(text):
        return _inline_engine_config(text, spark=spark, import_root=import_root)
    return text
