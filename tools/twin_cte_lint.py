"""Lint the DuckDB oracle twins for the CTE re-evaluation pathology.

DuckDB inlines a plain (non-MATERIALIZED) CTE at EVERY reference, and a
CTE referenced from a recursive body is re-evaluated once per recursion
step. Three r8/r9 incidents came from this class (winnowing gram lists,
the recursive-closure twins at 6-70 s, the mmr sel_all chain inlining
EXPONENTIALLY): the rule is that any CTE holding an expensive subtree
(pair generation, signatures, k-means, cross joins) referenced >= 2
times — or referenced at all from a recursive member — gets
MATERIALIZED.

This tool is the sweep, not the verdict: a 2-ref CTE over a cheap
projection is fine to leave plain (materialization has its own cost and
blocks filter pushdown into the CTE). Read the flags next to
bench_oracle.py's per-twin costs; a flagged CTE inside a twin costing
<0.5 s is noise, one inside a multi-second twin is the next fix.

Usage: python tools/twin_cte_lint.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402


def _body_span(sql: str, open_paren: int) -> tuple[int, int]:
    """Span (inclusive-start, exclusive-end) of the balanced-paren CTE
    definition body starting at `open_paren` (which must index '(')."""
    depth = 0
    for i in range(open_paren, len(sql)):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                return open_paren, i + 1
    return open_paren, len(sql)  # unbalanced — treat rest as body


def lint(sql: str) -> list[str]:
    finds = []
    recursive = bool(re.search(r"WITH\s+RECURSIVE", sql, re.I))
    for m in re.finditer(r"(\w+)(\([\w, ]*\))?\s+AS\s+(MATERIALIZED\s+)?\(", sql, re.I):
        cte, materialized = m.group(1), bool(m.group(3))
        if cte.upper() in ("SELECT", "FROM"):
            continue
        # count references OUTSIDE the CTE's own definition body: a
        # recursive CTE's self-reference is recursion, not reuse, and
        # counting it over-flags (r10 ADVICE). Comma-style cross joins
        # ("FROM a, cte") are real references and were missed before.
        # Branch-specific exclusions (r10 review): FROM/JOIN refs count
        # even when AS-aliased ("FROM cte AS a" IS a reference — only a
        # following "(" means a table function, not a ref); comma refs
        # exclude "cte AS (" (another CTE's definition header) and a
        # trailing " FROM" (a projected column that merely shares the
        # name, "SELECT x, cte FROM t"). Residual noise (IN-lists,
        # function args) is accepted — the tool is advisory and
        # judgment stays cost-based.
        start, end = _body_span(sql, m.end() - 1)
        # placeholder (not removal) keeps the "<name> AS (" adjacency of
        # OTHER definition headers intact for the exclusions below
        outside = sql[:start] + "(0)" + sql[end:]
        from_refs = re.findall(rf"(?:FROM|JOIN)\s+{cte}\b(?!\s*\()", outside, re.I)
        comma_refs = re.findall(
            rf",\s*{cte}\b(?!\s*(?:\(|AS\s*\())(?!\s+FROM\b)", outside, re.I
        )
        refs = len(from_refs) + len(comma_refs)
        if not materialized and refs >= 2:
            tag = " [+recursive-body risk]" if recursive else ""
            finds.append(f"{cte}: {refs} refs, not MATERIALIZED{tag}")
    return finds


def main() -> None:
    only = set(sys.argv[1:])
    flagged = 0
    for name, sql in E.oracle_sql().items():
        if only and name not in only:
            continue
        finds = lint(sql)
        if finds:
            flagged += 1
            print(f"{name}: " + "; ".join(finds))
    print(f"{flagged} twins flagged (judgment is cost-based — see docstring)")


if __name__ == "__main__":
    main()
