from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from mapreduceimplementation_spark.session import get_spark

    s = get_spark("mri-spark-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def plan_facts(spark, sf_dir):
    """Per batch query at sf_dir: its plan_counts and
    bare_window_violations, from ONE whole-surface plan build
    (tools/plan_audit.audit) shared by every whole-surface plan gate.
    Only these facts are kept, not the 176 DataFrames."""
    from tools.plan_audit import audit

    return audit(spark, sf_dir)


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle harness."""
    import duckdb

    con = duckdb.connect()
    from mapreduceimplementation_spark.sources.tables import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _plain(v):
    """Normalize a cell to a plain Python value so sort-by-repr pairs rows
    identically on the Spark and DuckDB sides (numpy 2.x reprs like
    'np.int64(5)' would otherwise sort differently from '5')."""
    if hasattr(v, "item"):
        try:
            v = v.item()
        except Exception:
            return v
    # The driver's gate normalizes NaN to a sentinel before hashing
    # (tools/check_oracle.py norm_cell); mirror it so NaN == NaN here too.
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


def _norm_rows(df):
    return sorted(
        (tuple(_plain(v) for v in row) for row in df.itertuples(index=False, name=None)),
        key=repr,
    )


def assert_same_result(spark_df, duck_con, sql: str, float_cols: tuple[str, ...] = ()):
    """Order-insensitive comparison of a Spark result vs a DuckDB oracle,
    approximating the driver's row-count + schema + value-hash check."""
    sp = spark_df.toPandas()
    dk = duck_con.execute(sql).df()
    assert sorted(sp.columns) == sorted(dk.columns), (
        f"columns differ: {sorted(sp.columns)} vs {sorted(dk.columns)}"
    )
    cols = sorted(sp.columns)
    sp = sp[cols]
    dk = dk[cols]
    assert len(sp) == len(dk), f"row counts differ: {len(sp)} vs {len(dk)}"
    sp_rows = _norm_rows(sp)
    dk_rows = _norm_rows(dk)
    for i, (a, b) in enumerate(zip(sp_rows, dk_rows)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  duckdb: {b}"


def formatted_plan(df) -> str:
    """Capture df.explain('formatted') output — THE shared helper for plan
    assertions (exchange counts, pushdown markers); per-file copies drift."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
