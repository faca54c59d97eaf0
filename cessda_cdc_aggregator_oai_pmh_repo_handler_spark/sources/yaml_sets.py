"""YAML set-definition dimensions (SURVEY §2.1 S2/S3).

Two tiny dimension "tables" with DIFFERENT freshness contracts, both taken
from the reference:

- **Source definitions** (`source` OAI set): list of
  ``{url, source, setname, description?}``; loaded ONCE at configure time
  and held in memory for the process lifetime
  (/root/reference/cdcagg_oai/metadataformats.py:335-348).
- **Configurable set**: one top-level ``{spec, name, description?, nodes}``
  where a node is either an inline ``{spec, name, description?,
  identifiers:[...]}`` or ``{path: ext.yaml}`` pointing at one external
  node or a list of nodes (externals cannot nest further; a relative path
  resolves against the directory of the defining file). Syntax is
  validated at configure; the file is RE-READ on every request by design
  (/root/reference/cdcagg_oai/metadataformats.py:103-151, 172-232).

At Spark scale these stay driver-side Python lists feeding ``isin`` /
broadcast joins — they are KBs; shipping them via broadcast is free and the
studies side never shuffles for them.
"""

from __future__ import annotations

import os

from yaml import safe_load


class SetConfigError(ValueError):
    """Raised when a set-definition file fails validation (mirrors the
    reference's configure-time errors,
    /root/reference/tests/test_metadataformats.py:80-239)."""


def load_source_defs(path: str) -> list[dict]:
    """Load source definitions once. ``url`` and ``source`` must be unique —
    the reference documents but does not enforce this
    (/root/reference/sources_set.yaml.example:5-8); we enforce it since
    silent duplicates corrupt the lookup join."""
    with open(path) as fobj:
        defs = safe_load(fobj) or []
    urls = [d["url"] for d in defs]
    sources = [d["source"] for d in defs]
    if len(set(urls)) != len(urls) or len(set(sources)) != len(sources):
        raise SetConfigError(f"{path}: url and source values must be unique")
    return defs


def _require(node: dict, path: str, key: str, check=None) -> None:
    if not isinstance(node, dict) or key not in node:
        raise SetConfigError(f"{path}: missing key {key!r} in {node!r}")
    if check is not None and not check(node[key]):
        raise SetConfigError(f"{path}: invalid value for key {key!r} in {node!r}")


def _nonempty_list(v) -> bool:
    return isinstance(v, list) and len(v) > 0


def _nonempty_str(v) -> bool:
    return isinstance(v, str) and v != ""


def _load_yaml(path: str):
    with open(path) as fobj:
        return safe_load(fobj)


def _iter_nodes(cnf: dict, cnf_path: str):
    """Yield (node, defining_path), resolving one level of external files
    (/root/reference/cdcagg_oai/metadataformats.py:179-189). A relative
    ``path:`` names a file beside ``cnf_path``, not one in the working
    directory."""
    for node_or_path in cnf["nodes"]:
        if isinstance(node_or_path, dict) and "path" in node_or_path:
            # an absolute path is kept as is by os.path.join
            ext_path = os.path.join(os.path.dirname(cnf_path),
                                    node_or_path["path"])
            ext = _load_yaml(ext_path)
            for node in [ext] if isinstance(ext, dict) else ext:
                yield node, ext_path
        else:
            yield node_or_path, cnf_path


def validate_configurable(path: str) -> dict:
    """Configure-time validation: top-level spec/name/nodes, per-node
    spec/name/identifiers (non-empty list)
    (/root/reference/cdcagg_oai/metadataformats.py:168-194)."""
    cnf = _load_yaml(path)
    _require(cnf, path, "spec", _nonempty_str)
    _require(cnf, path, "name", _nonempty_str)
    _require(cnf, path, "nodes", _nonempty_list)
    for node, npath in _iter_nodes(cnf, path):
        _require(node, npath, "spec", _nonempty_str)
        _require(node, npath, "name", _nonempty_str)
        _require(node, npath, "identifiers", _nonempty_list)
    return cnf


def load_configurable(path: str) -> dict:
    """Per-request load honoring the freshness contract: nodes (including
    externals) inlined; NOT validated here — runtime edits may fail, exactly
    as the reference documents
    (/root/reference/cdcagg_oai/metadataformats.py:107-109, 218-232)."""
    cnf = _load_yaml(path)
    cnf["nodes"] = [node for node, _ in _iter_nodes(cnf, path)]
    return cnf


def configurable_identifiers(cnf: dict, child_spec: str | None = None) -> list[str]:
    """Set membership: child spec → its identifiers; top-level → deduped
    union of all children (first match wins for a named child,
    /root/reference/cdcagg_oai/metadataformats.py:277-295)."""
    out: list[str] = []
    for node in cnf.get("nodes", []):
        if child_spec is None or child_spec == node.get("spec"):
            out.extend(node.get("identifiers", []))
            if child_spec is not None:
                break
    return sorted(set(out))
