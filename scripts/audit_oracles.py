#!/usr/bin/env python
"""Audit every registered DuckDB oracle for type-drift vectors.

The driver's correctness gate value-hashes canonically stringified
cells, so an oracle column that lands float64 where Spark produces
int64 (``139.0`` vs ``139``) is a red row even when the values agree.
The r5 incident: DuckDB's ``//`` after an aggregate promotes through
HUGEINT and comes back float64 in pandas. This script is the cheap
insurance the r6 judge prescribed — it needs NO Spark session:

1. **Bind-time type audit** (precise): build a DuckDB relation for
   each oracle against the sf views and flag any output column whose
   DuckDB type converts lossily/driftily to pandas — HUGEINT /
   UHUGEINT (→ float64), DECIMAL (→ object/float depending on scale),
   FLOAT (float32 vs Spark's double).
2. **Static ``//`` scan** (heuristic): report oracle lines using
   integer division whose line lacks a ``CAST``, for human review.

Exit 1 on any bind-time flag; the static scan is informational.

Usage::

    python scripts/audit_oracles.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from sressentials_spark.sources.tables import TABLES

#: DuckDB result types that do NOT round-trip to pandas as the dtype
#: the matching Spark column produces.
DRIFTY = re.compile(r"HUGEINT|UHUGEINT|DECIMAL|^FLOAT$", re.IGNORECASE)


def _uncast_int_divs(sql: str) -> list[int]:
    """Positions of ``//`` operators NOT lexically inside a CAST(...)
    — expression-aware (multi-line CASTs count), unlike a line scan:
    the r5 red-row class is a ``//`` RESULT escaping without a CAST,
    not the formatting of the CAST."""
    out = []
    stack: list[bool] = []  # per open paren: opened by CAST?
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "(":
            before = sql[:i].rstrip()
            # word-boundary anchored: broadcast(...) / recast(...) must
            # NOT open a CAST scope and swallow `//` notes inside.
            stack.append(
                bool(re.search(r"\b(TRY_)?CAST$", before, re.IGNORECASE))
            )
            i += 1
        elif ch == ")":
            if stack:
                stack.pop()
            i += 1
        elif ch == "/" and i + 1 < n and sql[i + 1] == "/":
            # A left operand that is itself CAST(... AS BIGINT) makes
            # the division BIGINT // BIGINT -> BIGINT (verified by
            # typeof in DuckDB) — no pandas drift possible.
            left_bigint = re.search(
                r"(AS\s+BIGINT\s*\)|::BIGINT\))\s*$", sql[:i], re.IGNORECASE
            )
            if not any(stack) and not left_bigint:
                out.append(i)
            i += 2
        else:
            i += 1
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from sressentials_spark.catalog import ORACLE_SQL

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )

    flagged: list[str] = []
    for name, sql in sorted(ORACLE_SQL.items()):
        try:
            rel = con.sql(sql)  # binds + plans; does not execute
        except Exception as exc:  # noqa: BLE001 — an unbindable oracle is itself a flag
            flagged.append(name)
            print(f"FLAG {name}: oracle failed to bind: {str(exc)[:200]}")
            continue
        for col, typ in zip(rel.columns, rel.types):
            if DRIFTY.search(str(typ)):
                flagged.append(name)
                print(f"FLAG {name}: column {col!r} binds as {typ} "
                      "(drifts through pandas; CAST it)")

    n_static = 0
    for name, sql in sorted(ORACLE_SQL.items()):
        for pos in _uncast_int_divs(sql):
            n_static += 1
            line = sql[: pos].rsplit("\n", 1)[-1] + sql[pos:].split("\n", 1)[0]
            print(f"note {name}: un-CAST `//` in: {line.strip()}")

    print(f"audited {len(ORACLE_SQL)} oracles: "
          f"{len(set(flagged))} flagged, {n_static} static notes")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
