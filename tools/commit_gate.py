#!/usr/bin/env python
"""Pre-commit gate (round-4 post-mortem: an unexecuted refactor with a dead
helper and a tuple-arity bug was committed blind and zeroed the round).

No third-party linters are installed in this container, so this is a
stdlib-only gate (plus the YAML parser the package already uses):

1. byte-compile every ``*.py`` under the package, tests/, tools/ and the
   repo root (syntax errors),
2. AST sweep for module-private functions/classes (``_name``) that are
   never referenced anywhere in their own module — the exact shape of the
   dead ``_headers`` helper that hid the r4 crash,
3. AST sweep for module-level ``*_CACHE`` dicts in the package: every
   corpus or session memo lives in the one registry
   (``sources/tables.corpus_memo``), never in a hand-rolled cache dict,
4. AST sweep of tools/, tests/ and bench.py for ``sys.path.insert``/
   ``append`` of an absolute string literal: a tool or test session run
   from another checkout must import the tree it sits in, so it resolves
   the root from ``__file__``,
5. scan of ``tests/data/*.yaml`` for absolute path values: a data file
   that names another by an absolute path reads that file from one
   checkout, whichever tree the tests run from,
6. import ``__spark_entry__`` and assert the 50/50 queries()/oracle_sql()
   contract (the driver's smoke surface).

Exit code 0 = safe to commit. Run: ``python tools/commit_gate.py``.
"""

from __future__ import annotations

import ast
import os
import pathlib
import py_compile
import subprocess
import sys

from yaml import safe_load

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "cessda_cdc_aggregator_oai_pmh_repo_handler_spark"

# Private symbols that are intentionally defined-but-unreferenced in their
# module (exported for tests, monkeypatch seams, or cache cells reset by
# tests). Keep this list SHORT and justified.
ALLOWED_UNUSED: set[tuple[str, str]] = set()


def iter_sources():
    for sub in (PKG, "tests", "tools"):
        yield from sorted((REPO / sub).rglob("*.py"))
    yield REPO / "__spark_entry__.py"
    yield REPO / "bench.py"


def check_syntax(paths) -> list[str]:
    errs = []
    for p in paths:
        try:
            py_compile.compile(str(p), doraise=True)
        except py_compile.PyCompileError as e:
            errs.append(f"SYNTAX {p}: {e.msg}")
    return errs


class _NameCollector(ast.NodeVisitor):
    """Collect every Name/Attribute identifier referenced in a module."""

    def __init__(self):
        self.used: set[str] = set()

    def visit_Name(self, node):
        self.used.add(node.id)

    def visit_Attribute(self, node):
        self.used.add(node.attr)
        self.generic_visit(node)


def check_dead_private(paths) -> list[str]:
    errs = []
    for p in paths:
        if "tests" in p.parts:
            continue  # pytest fixtures/params are referenced by framework
        tree = ast.parse(p.read_text(), filename=str(p))
        defined: dict[str, int] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                name = node.name
                if name.startswith("_") and not name.startswith("__"):
                    defined[name] = node.lineno
        if not defined:
            continue
        collector = _NameCollector()
        # Count references everywhere EXCEPT the def statement's own name.
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                collector.used.add(node.id)
            elif isinstance(node, ast.Attribute):
                collector.used.add(node.attr)
        text = p.read_text()
        for name, lineno in defined.items():
            if (str(p.name), name) in ALLOWED_UNUSED:
                continue
            # A def'd name referenced only once in source text = only its
            # own def line -> dead. (String-level count is the cheap,
            # zero-false-negative proxy; decorated/re-exported names
            # appear >= twice.)
            if text.count(name) <= 1:
                errs.append(f"DEAD {p}:{lineno}: private symbol "
                            f"'{name}' is never referenced")
    return errs


def memo_dict_problems(source: str, filename: str) -> list[str]:
    """Module-level names ending in ``_CACHE`` bound to a dict."""
    errs = []
    for node in ast.parse(source, filename=filename).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call) and isinstance(value.func, ast.Name)
            and value.func.id == "dict")
        for t in targets:
            if is_dict and isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                errs.append(f"MEMO {filename}:{node.lineno}: module-level "
                            f"cache dict '{t.id}' — use sources.tables."
                            f"corpus_memo")
    return errs


def check_memo_dicts(paths) -> list[str]:
    errs = []
    for p in paths:
        if PKG in p.parts:
            errs += memo_dict_problems(p.read_text(), str(p))
    return errs


def literal_sys_path_problems(source: str, filename: str) -> list[str]:
    """``sys.path.insert``/``append`` calls given an absolute str literal."""
    errs = []
    for node in ast.walk(ast.parse(source, filename=filename)):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
                and any(isinstance(a, ast.Constant) and isinstance(a.value, str)
                        and a.value.startswith("/") for a in node.args)):
            errs.append(f"PATH {filename}:{node.lineno}: literal sys.path "
                        f"entry — resolve the repo root from __file__")
    return errs


def check_literal_sys_path(paths, root: pathlib.Path = REPO) -> list[str]:
    errs = []
    for p in paths:
        rel = p.relative_to(root).parts
        if rel[0] in ("tools", "tests") or rel == ("bench.py",):
            errs += literal_sys_path_problems(p.read_text(), str(p))
    return errs


def absolute_yaml_paths(source: str, filename: str) -> list[str]:
    """String values of a YAML document that are absolute paths."""
    def walk(v):
        if isinstance(v, dict):
            for x in v.values():
                yield from walk(x)
        elif isinstance(v, list):
            for x in v:
                yield from walk(x)
        elif isinstance(v, str) and os.path.isabs(v):
            yield v

    return [f"DATA {filename}: absolute path {v!r} — name it relative to "
            f"the file" for v in walk(safe_load(source))]


def check_data_paths(root: pathlib.Path = REPO) -> list[str]:
    errs = []
    for p in sorted((root / "tests" / "data").glob("*.yaml")):
        errs += absolute_yaml_paths(p.read_text(), str(p))
    return errs


def check_entry_contract() -> list[str]:
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "import __spark_entry__ as m\n"
        "q = m.queries(); o = m.oracle_sql()\n"
        "assert len(q) == 50, f'queries: {len(q)}'\n"
        "assert len(o) == 50, f'oracles: {len(o)}'\n"
        "assert set(o) == set(q)\n"
        "print('entry-contract-ok')\n" % str(REPO)
    )
    res = subprocess.run([sys.executable, "-c", script], cwd=str(REPO),
                         capture_output=True, text=True, timeout=300)
    if res.returncode != 0 or "entry-contract-ok" not in res.stdout:
        return [f"ENTRY __spark_entry__ contract failed:\n{res.stderr}"]
    return []


def main() -> int:
    paths = [p for p in iter_sources() if p.exists()]
    errs = check_syntax(paths)
    errs += check_dead_private(paths)
    errs += check_memo_dicts(paths)
    errs += check_literal_sys_path(paths)
    errs += check_data_paths()
    errs += check_entry_contract()
    for e in errs:
        print(e)
    print(f"commit_gate: {len(paths)} files, {len(errs)} problems")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
