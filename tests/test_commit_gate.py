"""The commit gate's AST checks: every corpus or session memo lives in the
one registry (sources/tables.corpus_memo), never in a module-level
``*_CACHE`` dict; no tool or test puts a literal absolute path on
sys.path; and no test data file names another by an absolute path."""

from __future__ import annotations

from tools.commit_gate import (
    absolute_yaml_paths, check_data_paths, check_literal_sys_path,
    check_memo_dicts, iter_sources, literal_sys_path_problems,
    memo_dict_problems,
)


def test_package_has_no_memo_dicts():
    assert check_memo_dicts(list(iter_sources())) == []


def test_stray_cache_dict_is_flagged():
    src = "_X_CACHE: dict = {}\n_Y = {}\n_STAGED_CHECKSUMS: dict = {}\n"
    assert len(memo_dict_problems(src, "m.py")) == 1
    assert len(memo_dict_problems("_Z_CACHE = dict()\n", "m.py")) == 1
    assert memo_dict_problems("def f():\n    _Z_CACHE = {}\n", "m.py") == []


def test_tools_have_no_literal_sys_path():
    # scans tools/, tests/ and bench.py
    assert check_literal_sys_path(list(iter_sources())) == []


def test_literal_sys_path_is_flagged():
    src = ('import os, sys\n'
           'sys.path.insert(0, "/srv/other-checkout")\n'
           'sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))\n'
           'sys.path.append("relative/dir")\n')
    assert len(literal_sys_path_problems(src, "t.py")) == 1


def test_literal_sys_path_in_a_test_file_is_flagged(tmp_path):
    src = 'import sys\nsys.path.insert(0, "/srv/other-checkout")\n'
    for sub in ("tests", "docs"):
        (tmp_path / sub).mkdir()
        (tmp_path / sub / "test_x.py").write_text(src)
    paths = [tmp_path / "tests" / "test_x.py", tmp_path / "docs" / "test_x.py"]
    problems = check_literal_sys_path(paths, root=tmp_path)
    assert len(problems) == 1 and "tests" in problems[0]


def test_test_data_has_no_absolute_paths():
    assert check_data_paths() == []


def test_absolute_path_in_test_data_is_flagged(tmp_path):
    (tmp_path / "tests" / "data").mkdir(parents=True)
    (tmp_path / "tests" / "data" / "sets.yaml").write_text(
        "spec: s\nnodes:\n  - path: '/srv/checkout/tests/data/ext.yaml'\n"
        "  - path: 'ext.yaml'\n  - url: 'http://example.org/oai'\n")
    problems = check_data_paths(root=tmp_path)
    assert len(problems) == 1 and "/srv/checkout" in problems[0]
    assert absolute_yaml_paths("- spec: a\n", "x.yaml") == []
