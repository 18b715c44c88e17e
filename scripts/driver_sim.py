#!/usr/bin/env python
"""Rehearse the driver's correctness gate end-to-end.

Runs ``entry(spark)`` then every ``queries()[name]`` against
``oracle_sql()[name]`` in DuckDB at the given scale factor (default
sf0.01 — the driver's), with the same shape of comparison: row count,
column set, and order-insensitive exact values.

Usage::

    python scripts/driver_sim.py [sf_dir] [--out CORRECTNESS_LOCAL_rN.json]

With ``--out``, writes every query's result in the driver's own
artifact shape (rows_match / schema_match / hash_match / spark_rows /
oracle_rows / err) so the full 98-query gate is committed each round
even though the driver's per-round artifact caps at 50 rows.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from sressentials_spark.sources.tables import TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    if len(df):
        key = df.astype(str).agg("\x00".join, axis=1)
        df = df.iloc[key.argsort(kind="mergesort")]
    return df.reset_index(drop=True)


def strict_values_equal(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """Driver-faithful value comparison: canonically stringified cells,
    so int64 139 != float64 139.0 (the driver value-hashes stringified
    values; ``check_dtype=False`` green-washed exactly that drift in r5).
    Returns None when equal, else a short diagnostic of the first diff.
    """
    sa, sb = canon(sdf).astype(str), canon(odf).astype(str)
    if sa.equals(sb):
        return None
    for c in sa.columns:
        neq = sa[c] != sb[c]
        if neq.any():
            i = int(neq.idxmax())
            return (
                f"col={c} row={i}: spark={sa[c].iloc[i]!r} "
                f"({sdf[c].dtype}) vs oracle={sb[c].iloc[i]!r} "
                f"({odf[c].dtype})"
            )
    return "frames differ (shape/ordering)"


def main() -> int:
    argv = list(sys.argv[1:])
    out_path = None
    only: set[str] | None = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    import __spark_entry__ as ent
    from sressentials_spark import get_spark

    spark = get_spark("driver-sim")

    t0 = time.time()
    rows = ent.entry(spark).collect()
    print(f"entry(): {len(rows)} rows in {time.time() - t0:.1f}s")
    assert rows, "entry() must return rows"

    qs, oracles = ent.queries(), ent.oracle_sql()
    print(f"queries={len(qs)} oracles={len(oracles)} "
          f"missing_oracles={sorted(set(qs) - set(oracles))}")
    if only is not None:
        unknown = only - set(qs)
        assert not unknown, f"--only names not registered: {sorted(unknown)}"
        qs = {k: v for k, v in qs.items() if k in only}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )

    from sressentials_spark.artifacts import release_persisted

    fails: list[str] = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — record, keep gating the rest
            release_persisted()
            fails.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": str(exc)[:500],
            }
            print(f"  {name}: ERROR {str(exc)[:200]}")
            continue
        release_persisted()  # cache hygiene between queries
        if name not in oracles:
            print(f"  {name}: rows-only, {len(sdf)} rows ({time.time() - t0:.1f}s)")
            results[name] = {
                "rows_match": len(sdf) >= 0, "schema_match": None,
                "hash_match": None, "spark_rows": len(sdf),
                "oracle_rows": None, "err": None, "rows_only": True,
            }
            continue
        odf = con.execute(oracles[name]).fetchdf()
        rows_ok = len(sdf) == len(odf)
        schema_ok = sorted(sdf.columns) == sorted(odf.columns)
        values_ok = rows_ok and schema_ok
        if values_ok:
            diag = strict_values_equal(sdf, odf)
            if diag is not None:
                values_ok = False
                print(f"  {name}: VALUE DIFF {diag}")
        ok = rows_ok and schema_ok and values_ok
        if not ok:
            fails.append(name)
        results[name] = {
            "rows_match": rows_ok, "schema_match": schema_ok,
            "hash_match": values_ok, "spark_rows": len(sdf),
            "oracle_rows": len(odf), "err": None,
        }
        print(f"  {name}: {'OK' if ok else 'MISMATCH'} "
              f"rows={len(sdf)}/{len(odf)} ({time.time() - t0:.1f}s)")

    if out_path:
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {out_path} ({len(results)} rows)")

    print("RESULT:", "ALL OK" if not fails else f"FAILURES: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
