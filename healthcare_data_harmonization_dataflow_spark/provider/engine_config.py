"""DataHarmonization engine-config textproto envelope.

The reference's EP2 runner ships its mapping as an ENGINE config, not a bare
Whistle file (runner/dicomtofhir/main.textproto):

    library_config: {
      user_libraries: {
        type: MAPPING_LANGUAGE
        path: { local_path: "$MAPPING_ENGINE_HOME/.../dicom_fhir.wstl" }
      }
    }
    structure_mapping_config: {
      mapping_path_config: {
        mapping_type: MAPPING_LANGUAGE
        mapping_config_path: { local_path: "$MAPPING_ENGINE_HOME/.../main.wstl" }
      }
    }

The Whistle engine loads every user library plus the main config into one
namespace. This module re-expresses that: parse the envelope (tolerant
textproto subset: ``key: value``, ``key { ... }``, ``key: { ... }``,
repeated keys), substitute ``$VARS`` in the referenced paths, load each
file with ``load_mapping_config`` (any scheme through the sinks' filesystem
layer, Whistle ``import`` statements resolved), and concatenate libraries +
main into ONE self-contained config string ready for ``compile_mapping`` —
shipped to executors in the task closure like every other config.

There is no separate entry point: ``load_mapping_config(path, env=...)``
sniffs an envelope and hands its text here.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from ..functions.mapping_lang import MappingConfigError
from .mapping import load_mapping_config

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<punct>[{}:])
  | (?P<ident>[A-Za-z_][A-Za-z0-9_.\-]*)
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if m is None:
            raise MappingConfigError(
                f"engine config: unexpected character {text[pos]!r} at {pos}"
            )
        pos = m.end()
        if m.lastgroup != "ws":
            toks.append((m.lastgroup, m.group()))
    return toks


def parse_textproto(text: str) -> dict:
    """Parse the textproto subset into a dict; repeated keys become lists.
    Message values are dicts, scalars are strings (quotes stripped) or the
    raw identifier (enums like MAPPING_LANGUAGE)."""
    toks = _tokenize(text)
    i = 0

    def parse_block(stop_at_brace: bool) -> dict:
        nonlocal i
        out: dict = {}
        while i < len(toks):
            kind, val = toks[i]
            if stop_at_brace and (kind, val) == ("punct", "}"):
                i += 1
                return out
            if kind != "ident":
                raise MappingConfigError(
                    f"engine config: expected field name, got {val!r}"
                )
            key = val
            i += 1
            if i < len(toks) and toks[i] == ("punct", ":"):
                i += 1
            if i >= len(toks):
                raise MappingConfigError(f"engine config: dangling field {key!r}")
            kind, val = toks[i]
            if (kind, val) == ("punct", "{"):
                i += 1
                value: object = parse_block(stop_at_brace=True)
            elif kind == "string":
                i += 1
                value = val[1:-1]
            elif kind == "ident":
                i += 1
                value = val
            else:
                raise MappingConfigError(
                    f"engine config: bad value for {key!r}: {val!r}"
                )
            if key in out:  # repeated field
                prev = out[key]
                if not isinstance(prev, list):
                    out[key] = [prev]
                out[key].append(value)
            else:
                out[key] = value
        if stop_at_brace:
            raise MappingConfigError("engine config: unterminated message block")
        return out

    return parse_block(stop_at_brace=False)


_VAR = re.compile(r"\$\{?([A-Za-z_][A-Za-z0-9_]*)\}?")


def _substitute(path: str, env: dict) -> str:
    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name not in env:
            raise MappingConfigError(
                f"engine config: undefined variable ${name} in path {path!r}"
            )
        return env[name]

    return _VAR.sub(sub, path)


def _extract_path(msg: dict, what: str) -> str:
    for key in ("local_path", "gcs_path", "hdfs_path"):
        if isinstance(msg, dict) and key in msg:
            return msg[key]
    raise MappingConfigError(f"engine config: {what} has no *_path field")


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


@dataclass
class EngineConfig:
    """Resolved engine config: ordered library paths + the main config."""

    library_paths: list[str] = field(default_factory=list)
    mapping_path: str = ""


def parse_engine_config(text: str, env: dict | None = None) -> EngineConfig:
    """Envelope textproto -> resolved paths ($VARS substituted from ``env``,
    default os.environ)."""
    env = dict(os.environ) if env is None else env
    cfg = parse_textproto(text)
    out = EngineConfig()
    lib = cfg.get("library_config")
    if lib:
        for ul in _as_list(lib.get("user_libraries", [])):
            t = ul.get("type", "MAPPING_LANGUAGE")
            if t != "MAPPING_LANGUAGE":
                raise MappingConfigError(
                    f"engine config: unsupported library type {t!r}"
                )
            out.library_paths.append(
                _substitute(_extract_path(ul.get("path"), "user_libraries.path"), env)
            )
    smc = cfg.get("structure_mapping_config")
    if not smc or "mapping_path_config" not in smc:
        raise MappingConfigError(
            "engine config: missing structure_mapping_config.mapping_path_config"
        )
    mpc = smc["mapping_path_config"]
    mt = mpc.get("mapping_type", "MAPPING_LANGUAGE")
    if mt != "MAPPING_LANGUAGE":
        raise MappingConfigError(
            f"engine config: unsupported mapping_type {mt!r}"
        )
    out.mapping_path = _substitute(
        _extract_path(mpc.get("mapping_config_path"), "mapping_config_path"), env
    )
    return out


def looks_like_engine_config(text: str) -> bool:
    """Cheap sniff: envelope files name structure_mapping_config; bare
    Whistle/root_mapping configs never do."""
    return "structure_mapping_config" in text


def _inline_engine_config(
    envelope: str, spark, env: dict | None, import_root: str
) -> str:
    """Envelope text -> ONE self-contained Whistle config string: every user
    library first (engine namespace order), then the main config — each
    loaded through :func:`.mapping.load_mapping_config` (any scheme;
    Whistle ``import`` statements resolved against ``import_root``, which
    defaults to each file's own directory)."""
    resolved = parse_engine_config(envelope, env)
    parts = []
    for p in resolved.library_paths + [resolved.mapping_path]:
        root = import_root or os.path.dirname(p)
        parts.append(load_mapping_config(p, import_root=root, spark=spark, env=env))
    return "\n".join(parts)
