"""Driver-session defensiveness: the driver invokes queries()[name]
on a session IT built. Every registered query must repair the
runtime-settable conf (UTC timezone above all — a non-UTC session
shifts every date_format/window boundary off the DuckDB oracle) —
while keeping a shuffle partition count the session already chose."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

_SHUFFLE = "spark.sql.shuffle.partitions"


def test_registered_query_restores_utc(spark, registry):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = registry["q35_date_funcs"].fn(spark, SF_SMALL)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # and the values are UTC-correct: 1995-01-01 is day 0
        row = (df.filter("days_since_epoch95 = 0").limit(1).collect())
        assert row, "no epoch-day-0 orders found"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_wrapped_fn_keeps_metadata(registry):
    q = registry["q15_agg_pricing"]
    assert q.fn.__name__ == "q15_agg_pricing"  # functools.wraps applied
    assert q.fn.__doc__


@pytest.mark.parametrize("env", [None, "6"])
def test_unset_shuffle_partitions_default_to_task_slots(
        spark, registry, monkeypatch, env):
    """A session that chose no count gets the task-slot count (or
    SPARK_GRAFT_SHUFFLE) on its first registered query."""
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", env)
    s = spark.newSession()
    s.conf.unset(_SHUFFLE)
    assert _SHUFFLE not in s.conf.getAll
    registry["q15_agg_pricing"].fn(s, SF_SMALL)
    want = env or str(s.sparkContext.defaultParallelism)
    assert s.conf.get(_SHUFFLE) == want


def test_explicit_shuffle_partitions_survive_query_call(spark, registry):
    """A count the caller set is kept; the other pins are re-applied."""
    s = spark.newSession()
    s.conf.set(_SHUFFLE, "7")
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    registry["q15_agg_pricing"].fn(s, SF_SMALL)
    assert s.conf.get(_SHUFFLE) == "7"
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    assert s.conf.get("spark.sql.adaptive.enabled") == "true"
