"""The commit gate's stray-memo check: every corpus or session memo lives
in the one registry (sources/tables.corpus_memo), never in a module-level
``*_CACHE`` dict."""

from __future__ import annotations

from tools.commit_gate import check_memo_dicts, iter_sources, memo_dict_problems


def test_package_has_no_memo_dicts():
    assert check_memo_dicts(list(iter_sources())) == []


def test_stray_cache_dict_is_flagged():
    src = "_X_CACHE: dict = {}\n_Y = {}\n_STAGED_CHECKSUMS: dict = {}\n"
    assert len(memo_dict_problems(src, "m.py")) == 1
    assert len(memo_dict_problems("_Z_CACHE = dict()\n", "m.py")) == 1
    assert memo_dict_problems("def f():\n    _Z_CACHE = {}\n", "m.py") == []
