"""Local mimic of the driver's correctness gate: run every queries() entry
at sf0.01 in Spark AND its oracle_sql() in DuckDB; compare row count, column
names/dtypes, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:] = [REPO] + [p for p in sys.path if p != os.path.join(REPO, "tools")]  # see profile.py


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from mapreduceimplementation_spark.session import get_spark
    from mapreduceimplementation_spark.sources.tables import TABLES

    spark = get_spark("check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(sp)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            dk = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            continue
        status, detail = compare(sp, dk)
        mark = "ok" if status else "FAIL"
        if not status:
            failures.append(name)
        print(f"{mark:5} {name}: {len(sp)} rows ({time.time()-t0:.1f}s){detail}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def compare(sp, dk):
    if sorted(sp.columns) != sorted(dk.columns):
        return False, f" columns {sorted(sp.columns)} vs {sorted(dk.columns)}"
    cols = sorted(sp.columns)
    sp, dk = sp[cols], dk[cols]
    if len(sp) != len(dk):
        return False, f" rowcount {len(sp)} vs {len(dk)}"
    sp_t = [sp[c].dtype.kind for c in cols]
    dk_t = [dk[c].dtype.kind for c in cols]
    detail = ""
    if sp_t != dk_t:
        # a kind mismatch (e.g. DuckDB HUGEINT->float vs Spark long) is a
        # schema failure even when the values happen to compare equal —
        # the driver's gate checks schema, so catch it here first
        mism = [t for t in zip(cols, sp_t, dk_t) if t[1] != t[2]]
        return False, f" dtype kinds differ: {mism}"
    a = sorted(
        (tuple(norm_cell(v) for v in row) for row in sp.itertuples(index=False, name=None)),
        key=repr,
    )
    b = sorted(
        (tuple(norm_cell(v) for v in row) for row in dk.itertuples(index=False, name=None)),
        key=repr,
    )
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return False, f" first diff row {i}:\n  spark : {x}\n  duckdb: {y}" + detail
    return True, detail


if __name__ == "__main__":
    raise SystemExit(main())
