"""Mapping-config loading: read a config from a path/URI with import-root
support.

Re-expression of the reference's provider package
(MappingConfigProvider.java:9-18, LocalMappingConfigProvider.java:12-24,
GcsMappingConfigProvider.java:18-57, MappingConfigProviderFactory.java:9-15):

* every file is read through the sinks' filesystem layer
  (``streaming.sink.fs_for``), whose scheme rule stands in for the
  factory: a scheme-less path is a plain local file, any URI (``gs://``
  there; ``hdfs://``, ``s3a://``, ``gs://``, ``file:`` here) goes through
  Spark's Hadoop FileSystem;
* each call reads afresh — a config is loaded once per pipeline build, so
  the reference's ``force``-able byte cache has nothing to save;
* ``import_root`` names a directory tree of library configs. The reference
  mirrors the whole tree to local disk so the Whistle engine can resolve
  imports (GcsMappingConfigProvider.java:40-52); here the loader resolves
  ``import "relative/path";`` statements itself by splicing the imported
  file's text (cycle-safe, root-escape rejected), so the COMPILED config is
  self-contained and ships to executors inside the task closure — no
  executor-side file access (the SparkContext.addFile analogue, without the
  per-executor read).

Fail-fast contract (MappingFn.java:194-202): a missing/unreadable config
path raises before any data flows.
"""

from __future__ import annotations

import posixpath
import re

from ..functions.mapping_lang import MappingConfigError
from ..streaming.sink import fs_for

_IMPORT_RE = re.compile(r'^\s*import\s+"([^"]+)"\s*;\s*$', re.MULTILINE)


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
            norm = posixpath.normpath(rel)
            if norm.split("/")[0] == ".." or posixpath.isabs(norm):
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


def load_mapping_config(
    path: str, import_root: str = "", spark=None, env: dict | None = None
) -> str:
    """Read ``path`` and resolve its imports -> config text ready for
    ``compile_mapping``/``apply_mapping``. A URI needs ``spark`` (or an
    active session) for the Hadoop FileSystem.

    A DataHarmonization engine-config envelope (the EP2 runner's
    main.textproto shape — library_config + structure_mapping_config) is
    detected and delegated to :mod:`.engine_config`, which inlines every
    referenced user library plus the main config, substituting ``$VARS``
    in their paths from ``env`` (default ``os.environ``)."""
    text = fs_for(path, spark).read_text(path)
    from .engine_config import _inline_engine_config, looks_like_engine_config

    if looks_like_engine_config(text):
        return _inline_engine_config(text, spark, env, import_root)

    def read_import(root: str, rel: str) -> str:
        p = f"{root.rstrip('/')}/{rel}"
        return fs_for(p, spark).read_text(p)

    return resolve_imports(text, import_root, read_file=read_import)
