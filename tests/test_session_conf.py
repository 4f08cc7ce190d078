"""Session-conf hygiene: no query or sink leaves the session's confs
changed, and only ``session.py`` writes them.

``registry.register`` applies ``tune()`` on entry to every query; any
other conf a query needs for part of its run goes through
``session.scoped_conf``, which restores the exact previous state.
"""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

import pytest

import mapreduceimplementation_spark as eng
from mapreduceimplementation_spark import session

eng.load_all_operators()

_PKG = Path(eng.__file__).resolve().parent
_PARTITIONS = "spark.sql.shuffle.partitions"


def _confs(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


@pytest.fixture
def wide_session(spark, monkeypatch):
    """The session tuned to 16 shuffle partitions, so the streams' <=8
    partition cap really changes the value (on a 4-core host the tuned
    width is already under the cap).  The width is put back afterwards."""
    old = spark.conf.get(_PARTITIONS)
    monkeypatch.setitem(session._RUNTIME_CONF, _PARTITIONS, "16")
    session.tune(spark)
    yield spark
    spark.conf.set(_PARTITIONS, old)


def test_stream_leaves_session_conf_unchanged(wide_session, sf_dir):
    spark = wide_session
    before = _confs(spark)
    assert before[_PARTITIONS] == "16"
    assert eng.QUERIES["streaming_stream_join"](spark, sf_dir).count() > 0
    assert _confs(spark) == before


def test_sinks_leave_session_conf_unchanged(spark, sf_dir, tmp_path):
    from mapreduceimplementation_spark.sources.sinks import (
        write_sorted,
        write_zordered,
    )
    from mapreduceimplementation_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    before = _confs(spark)
    write_sorted(ev, str(tmp_path / "sorted"), "ts", n_files=2)
    assert _confs(spark) == before
    write_zordered(ev, str(tmp_path / "z"), ("ts", "user_id"), n_files=2)
    assert _confs(spark) == before


def test_scoped_conf_restores_exact_previous_state(spark):
    set_key = "spark.sql.parquet.outputTimestampType"
    unset_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(set_key, "INT96")
    try:
        assert unset_key not in _confs(spark)
        before = _confs(spark)
        with pytest.raises(RuntimeError):
            with session.scoped_conf(
                spark, {set_key: "TIMESTAMP_MICROS", unset_key: "false"}
            ):
                assert spark.conf.get(set_key) == "TIMESTAMP_MICROS"
                assert spark.conf.get(unset_key) == "false"
                raise RuntimeError("the block failed")
        # an explicit setting comes back; a default stays a default
        assert _confs(spark) == before
    finally:
        spark.conf.unset(set_key)


def _raw_conf_writes(path: Path) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            hits.append(f"{path.relative_to(_PKG)}:{node.lineno}")
    return hits


def test_only_session_module_writes_confs():
    modules = [p for p in sorted(_PKG.rglob("*.py")) if p.name != "session.py"]
    assert modules
    hits = [h for p in modules for h in _raw_conf_writes(p)]
    assert not hits, f"raw spark.conf writes outside session.py: {hits}"


def test_registered_queries_resolve_to_their_defining_module():
    fn = eng.QUERIES["mr_wordcount"]
    assert Path(inspect.getfile(inspect.unwrap(fn))).as_posix().endswith(
        "operators/mrcore.py"
    )
