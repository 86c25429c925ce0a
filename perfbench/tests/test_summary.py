"""Tests of the benchmark's summarizer on synthetic spans; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import summary  # noqa: E402
from perfbench.summary import Check, Span, Tally  # noqa: E402
from perfbench.workloads import SELF_CHECKS, WORKLOADS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _query(exec_id: str = "w/1/q") -> list[Span]:
    """query [0, 10] > build [0, 6] > (io [1, 2], materialize [1.5, 4]),
    plan [6, 7], exec [7, 9]; the root's 9-10 is left uncovered."""
    return [
        Span("query", 0.0, 10.0, None, exec_id),
        Span("build", 0.0, 6.0, 0, exec_id),
        Span("io.load_table", 1.0, 2.0, 1, exec_id),
        Span("materialize.localCheckpoint", 1.5, 4.0, 1, exec_id),
        Span("plan", 6.0, 7.0, 0, exec_id),
        Span("exec", 7.0, 9.0, 0, exec_id),
    ]


def test_self_time_subtracts_union_of_children():
    t = summary.self_times(_query())
    # build's children overlap (1-2 and 1.5-4): covered 1-4, so 6 - 3
    assert t[1] == pytest.approx(3.0)
    assert t[0] == pytest.approx(1.0)  # 10 - (6 + 1 + 2)
    assert t[2:] == pytest.approx([1.0, 2.5, 1.0, 2.0])


def test_self_times_of_disjoint_siblings_sum_to_root_duration():
    spans = _query()
    spans[3] = Span("materialize.localCheckpoint", 2.0, 4.0, 1, spans[3].exec_id)
    assert sum(summary.self_times(spans)) == pytest.approx(spans[0].duration)


def test_child_outside_parent_is_clipped():
    spans = [Span("query", 0.0, 2.0, None, "x"), Span("build", 1.0, 5.0, 0, "x")]
    assert summary.self_times(spans)[0] == pytest.approx(1.0)


def test_self_time_by_name_filters_executions():
    spans = _query("w/1/a") + [
        Span(s.name, s.start, s.end, None if s.parent is None else s.parent + 6, "w/0/a")
        for s in _query("w/0/a")]
    warm = summary.self_time_by_name(spans, lambda s: s.exec_id == "w/1/a")
    both = summary.self_time_by_name(spans)
    assert warm["build"] == pytest.approx(3.0)
    assert both["build"] == pytest.approx(6.0)


def test_warm_total_sums_per_query_medians():
    lat = {"a": [1.0, 5.0, 2.0], "b": [3.0], "c": [1.0, 2.0]}
    assert summary.warm_total(lat) == pytest.approx(2.0 + 3.0 + 1.5)


def test_fail_frac_counts_failures_over_attempts():
    tally = Tally()
    for ok in (True, True, False, True):
        tally.record(ok, "boom")
    assert (tally.attempted, tally.failed) == (4, 1)
    assert tally.fail_frac == pytest.approx(0.25)
    assert tally.reasons == ["boom"]


def test_fail_frac_needs_an_attempt():
    with pytest.raises(ValueError):
        summary.fail_frac(0, 0)


def test_digest_is_order_insensitive():
    rows = [("a", "1"), ("b", "2")]
    assert summary.rows_digest(rows) == summary.rows_digest(list(reversed(rows)))
    assert summary.rows_digest(rows) != summary.rows_digest([("a", "1"), ("b", "3")])


def test_wrong_expected_hash_fails_the_run():
    rows = [("a", "1"), ("b", "2")]
    good = summary.check_digest("q", rows, summary.rows_digest(rows))
    bad = summary.check_digest("q", rows, "0" * 64)
    assert good.ok and not bad.ok and bad.rows == 2
    assert summary.exit_code([good], Tally(2, 0), []) == 0
    assert summary.exit_code([good, bad], Tally(2, 0), []) != 0


def test_failed_execution_or_setup_error_fails_the_run():
    ok = [Check("q", True, 1)]
    assert summary.exit_code(ok, Tally(3, 1), []) != 0
    assert summary.exit_code(ok, Tally(3, 0), ["artifact store not empty"]) != 0


@pytest.mark.parametrize("name,valid", [
    ("warm_s", True), ("exec.shuffle_read_bytes", True), ("q-1.x_y", True),
    ("9lives", True), ("a" * 64, True), ("a" * 65, False), ("_lead", False),
    (".lead", False), ("has space", False), ("slash/no", False), ("", False),
])
def test_metric_names(name, valid):
    assert summary.valid_name(name) is valid


def test_benchmark_json_names_are_legal_and_unique():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(summary.valid_name(n) for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)


def test_self_checks_reject_broken_rows():
    s01 = SELF_CHECKS["s01_jdbc_sqlite_sink"]
    assert s01({"n_written": 125, "n_readback": 125})
    assert not s01({"n_written": 125, "n_readback": 124})
    assert not s01({"n_written": 0, "n_readback": 0})
