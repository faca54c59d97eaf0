"""Oracle-exactness linter (r9 verdict #1).

The cross-engine float-hash bug class recurred three rounds running:

- **r7** ``sql_text_lateral_alias`` — ``round()`` over a DOUBLE of money
  provenance (Spark rounds the BigDecimal binary expansion HALF_UP,
  DuckDB rounds the shortest decimal; money arithmetic lands on .xx5
  boundaries SYSTEMATICALLY, e.g. 312346.85*0.1 = 31234.685).
- **r8** ``ridge_regression`` — a >2^53 HUGEINT/DECIMAL sum cast straight
  to DOUBLE: DuckDB's native HUGEINT->DOUBLE conversion double-rounds
  (1 ulp off); the correctly-rounded route is CAST(CAST(x AS VARCHAR)
  AS DOUBLE) (strtod).
- **r9** ``kendall_tau``/``gini``/``trimmed_mean`` — the same wide-cast
  class, plus ``t * (t - 1) / 2`` tie terms using '/', which is DOUBLE
  division in DuckDB and silently loses precision above 2^53 ('//' is
  exact; t*(t-1) is always even).

The rules were already written down (relational_ext.py, r8
scalar-exactness comment block); this module turns them into structure.
Every oracle SQL string — the 50 ``oracle_sql()`` gate entries plus every
suite sub-operator's ``inner_sql`` — is scanned for the three patterns.
``tests/test_oracle_lint.py`` runs the scan in pytest and pins the three
historical bugs as must-fail fixtures.

A finding can be suppressed with ``-- lint: narrow`` on the same line
ONLY when the value is provably below 2^53 at any plausible scale (or,
for round(), provably tie-free); the suppression text is part of the
oracle string and therefore visible to review.

Usage: python tools/oracle_lint.py          # lint the live corpus
"""

from __future__ import annotations

import os
import re
import sys
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Money-provenance columns: DECIMAL-born values whose double arithmetic
# lands on .xx5 rounding boundaries systematically (TPC-H money columns
# plus the synthetic tables' money-like fields).
MONEY_COLS = (
    "l_extendedprice", "l_discount", "l_tax", "o_totalprice",
    "ps_supplycost", "c_acctbal", "s_acctbal", "p_retailprice",
)

SUPPRESS = "lint: narrow"


@dataclass(frozen=True)
class Finding:
    oracle: str
    rule: str
    line_no: int
    snippet: str

    def __str__(self) -> str:
        return f"{self.oracle}:{self.line_no} [{self.rule}] {self.snippet}"


def _balanced_span(text: str, open_idx: int) -> int:
    """Index one past the ')' matching the '(' at ``open_idx``."""
    depth = 0
    for i in range(open_idx, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    return len(text)


def _line_of(sql: str, idx: int) -> int:
    return sql.count("\n", 0, idx) + 1


def _suppressed(sql: str, idx: int) -> bool:
    line_start = sql.rfind("\n", 0, idx) + 1
    line_end = sql.find("\n", idx)
    if line_end < 0:
        line_end = len(sql)
    return SUPPRESS in sql[line_start:line_end]


def _iter_cast_double_spans(sql: str):
    """Yield (start, inner_text) for every CAST(<inner> AS DOUBLE)."""
    for m in re.finditer(r"\bCAST\s*\(", sql, re.IGNORECASE):
        end = _balanced_span(sql, m.end() - 1)
        inner = sql[m.end(): end - 1]
        if re.search(r"\bAS\s+DOUBLE\s*$", inner.strip(),
                     re.IGNORECASE):
            yield m.start(), inner


def _wide_cast_findings(name: str, sql: str) -> list[Finding]:
    """CAST(X AS DOUBLE) where X is >2^53-capable INTEGER provenance and
    not VARCHAR-routed — the r8 ridge / r9 gini class.

    Triggers: X mentions HUGEINT, or X contains a sum() whose argument
    is integer provenance (floor(...) or an AS BIGINT/INT cast) with no
    DECIMAL fold. DuckDB sum(BIGINT) returns HUGEINT, and the native
    HUGEINT->DOUBLE conversion double-rounds above 2^53; the sanctioned
    route is CAST(CAST(x AS VARCHAR) AS DOUBLE) (strtod is correctly
    rounded). DECIMAL-fold sums (the TPC-H money discipline,
    round(sum(CAST(x AS DECIMAL(18,4))), 2)) are exempt: the house
    money style bounds them well under 2^53 at gate scales and rounds
    at DECIMAL precision before the cast.
    """
    out = []
    for start, inner in _iter_cast_double_spans(sql):
        if re.search(r"\bAS\s+VARCHAR", inner, re.IGNORECASE):
            continue  # the sanctioned strtod route
        if _suppressed(sql, start):
            continue
        wide = False
        if re.search(r"\bHUGEINT\b", inner, re.IGNORECASE):
            wide = True
        else:
            for sm in re.finditer(r"\bsum\s*\(", inner, re.IGNORECASE):
                arg_end = _balanced_span(inner, sm.end() - 1)
                arg = inner[sm.end(): arg_end - 1]
                if re.search(r"\bAS\s+DECIMAL", arg, re.IGNORECASE):
                    continue  # DECIMAL fold: money discipline, exempt
                if re.search(r"\bfloor\s*\(|\bAS\s+(BIG)?INT\b", arg,
                             re.IGNORECASE):
                    wide = True
                    break
        if wide:
            snippet = " ".join(sql[start:start + 90].split())
            out.append(Finding(name, "wide-int-double-cast",
                               _line_of(sql, start), snippet))
    return out


# n*(n-1)/k pair-count formulas with float '/': the r9 kendall tie-term
# bug. Matches  <tok> * (<tok> - 1) / <int>  and
# (<tok> - 1) ... / <int> right after a ')' closing a product — the
# tight form is what history shows; keep it tight to stay zero-noise.
_PAIR_DIV = re.compile(
    r"([A-Za-z_][\w.()* ]{0,40}?)\*\s*\(\s*([\w.]+(?:\s*\(\s*\*\s*\))?)"
    r"\s*-\s*1\s*\)\s*/\s*(\d+)(?!\.)")


def _int_slash_findings(name: str, sql: str) -> list[Finding]:
    out = []
    for m in _PAIR_DIV.finditer(sql):
        if _suppressed(sql, m.start()):
            continue
        snippet = " ".join(m.group(0).split())
        out.append(Finding(name, "pair-count-float-div",
                           _line_of(sql, m.start()), snippet))
    return out


# Value-SELECTING functions: they return one already-materialized money
# value (or an interpolation of two) rather than an accumulation, so the
# double reaching round() carries the column's born decimal scale and the
# round is a no-op / boundary-free — empirically stable across the gate.
# The danger class is round() over money ACCUMULATION (sum/avg/products).
_VALUE_SELECT_FNS = ("min", "max", "lag", "lead", "first", "last",
                     "first_value", "last_value", "any_value", "mode",
                     "arg_min", "arg_max", "quantile_cont", "median")


def _strip_value_select_spans(text: str) -> str:
    """Remove every value-selecting fn call span from ``text`` so a
    money column referenced ONLY inside them stops matching."""
    pat = re.compile(r"\b(" + "|".join(_VALUE_SELECT_FNS) + r")\s*\(",
                     re.IGNORECASE)
    while True:
        m = pat.search(text)
        if not m:
            return text
        end = _balanced_span(text, m.end() - 1)
        text = text[:m.start()] + text[end:]


def _money_round_findings(name: str, sql: str) -> list[Finding]:
    """round(X, n) where X accumulates a money column without folding
    through DECIMAL first. round() over DECIMAL is exact and
    engine-identical; round() over an accumulated money DOUBLE hits the
    engines' divergent double-round algorithms at .xx5 boundaries (the
    r7 lateral_alias class)."""
    out = []
    money_re = re.compile("|".join(MONEY_COLS), re.IGNORECASE)
    for m in re.finditer(r"\bround\s*\(", sql, re.IGNORECASE):
        end = _balanced_span(sql, m.end() - 1)
        arg = sql[m.end(): end - 1]
        if not money_re.search(arg):
            continue
        if re.search(r"\bDECIMAL\b", arg, re.IGNORECASE):
            continue  # sanctioned: folded to DECIMAL before rounding
        if re.search(r"\bfloor\s*\(|\bAS\s+(BIG)?INT", arg,
                     re.IGNORECASE):
            continue  # integer-cents discipline: exact before round
        # round(x) with no digits arg = scale-to-integer cents step
        depth, top_comma = 0, False
        for ch in arg:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                top_comma = True
                break
        if not top_comma:
            continue
        if not money_re.search(_strip_value_select_spans(arg)):
            continue  # money only reached through value-selecting fns
        if _suppressed(sql, m.start()):
            continue
        snippet = " ".join(sql[m.start():m.start() + 90].split())
        out.append(Finding(name, "money-double-round",
                           _line_of(sql, m.start()), snippet))
    return out


def lint_sql(name: str, sql: str) -> list[Finding]:
    return (_wide_cast_findings(name, sql)
            + _int_slash_findings(name, sql)
            + _money_round_findings(name, sql))


def collect_oracles() -> dict[str, str]:
    """Every oracle string the gate can hash: the 50 oracle_sql()
    entries plus each suite sub-operator's inner_sql (finer-grained
    attribution; the suite oracles are generated from these)."""
    import __spark_entry__ as entry
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        suites,
    )

    oracles: dict[str, str] = dict(entry.oracle_sql())
    for suite_name, subs in suites.SUITE_SUBS.items():
        for s in subs:
            oracles[f"{suite_name}.{s.op}"] = s.inner_sql
    return oracles


def lint_all() -> list[Finding]:
    findings: list[Finding] = []
    for name, sql in collect_oracles().items():
        findings.extend(lint_sql(name, sql))
    return findings


# --- Historical must-fail fixtures (the three rounds' actual bugs) -----

FIXTURE_R7_MONEY_ROUND = """
    SELECT o_orderpriority,
           round(sum(o_totalprice) * 0.1, 2) AS rebate
    FROM orders GROUP BY o_orderpriority
"""

FIXTURE_R8_WIDE_CAST = """
    SELECT CAST(sum(CAST(xi AS HUGEINT) * yi) AS DOUBLE) AS xty
    FROM obs
"""

FIXTURE_R9_PAIR_DIV = """
    SELECT l_returnflag, sum(CAST(t * (t - 1) / 2 AS HUGEINT)) AS n1
    FROM m GROUP BY l_returnflag
"""

FIXTURES = {
    "r7_money_round": (FIXTURE_R7_MONEY_ROUND, "money-double-round"),
    "r8_wide_cast": (FIXTURE_R8_WIDE_CAST, "wide-int-double-cast"),
    "r9_pair_div": (FIXTURE_R9_PAIR_DIV, "pair-count-float-div"),
}


def main() -> int:
    for fx_name, (sql, want_rule) in FIXTURES.items():
        got = {f.rule for f in lint_sql(fx_name, sql)}
        if want_rule not in got:
            print(f"SELF-TEST FAIL: fixture {fx_name} did not trigger "
                  f"{want_rule} (got {sorted(got)})")
            return 2
    findings = lint_all()
    for f in findings:
        print(f"LINT {f}")
    print(f"{len(findings)} finding(s) over "
          f"{len(collect_oracles())} oracles")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
