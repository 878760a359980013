"""Tests for the benchmark's pure helpers: the event-log fold, span self
time, the content fingerprint and the seed's input choice. No Spark
session is started.

    python3 -m pytest kgbench/tests -q
"""

import os
import random

import pyarrow as pa
import pytest

from kgbench.checks import content_fingerprint, table_rows
from kgbench.tracing import (
    Span,
    cpu_self_check,
    group_totals,
    read_event_log,
    self_times,
    window_counts,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return read_event_log(FIXTURE)


def test_fold_attributes_tasks_to_span_groups(log):
    s0 = group_totals(log, {"span:0"})
    assert s0["tasks"] == 2  # the failed task is dropped
    assert s0["cpu_s"] == pytest.approx(2.0)
    assert s0["run_s"] == pytest.approx(3.0)
    assert s0["gc_s"] == pytest.approx(0.1)
    assert s0["shuffle_write_bytes"] == 1000
    assert s0["spill_bytes"] == 64
    assert s0["py_worker_s"] == pytest.approx(2.0)  # per-task Update, not running Value
    assert s0["py_bytes_sent"] == 4096
    assert s0["shuffle_stages"] == 1
    assert s0["task_skew"] == pytest.approx(2000 / 1500)

    s1 = group_totals(log, {"span:1"})
    assert s1["tasks"] == 1
    assert s1["output_bytes"] == 5000 and s1["output_records"] == 42
    assert s1["shuffle_read_bytes"] == 1010
    assert s1["commit_s"] == pytest.approx(0.25)
    assert s1["task_skew"] == 1.0  # a one-task stage has no skew


def test_fold_keeps_ungrouped_stages_out_of_spans(log):
    assert log.stage_group[3] is None
    both = group_totals(log, {"span:0", "span:1"})
    assert both["tasks"] == 3
    assert both["cpu_s"] == pytest.approx(2.25)


def test_window_counts(log):
    # epoch seconds; the fixture's times are in ms
    w = window_counts(log, 1000.0, 1005.0)
    assert (w["jobs"], w["stages"], w["tasks"]) == (2, 2, 3)
    assert w["gc_s"] == pytest.approx(0.1) and w["spill_bytes"] == 64
    assert window_counts(log, 1008.0, 1010.0)["tasks"] == 1


def test_cpu_self_check_passes_when_spans_cover_the_window(log):
    got = cpu_self_check(log, {"span:0", "span:1"}, 1000.0, 1005.0)
    assert got["span_cpu_s"] == pytest.approx(2.25)
    assert got["app_cpu_s"] == pytest.approx(2.25)
    assert got["unattributed_cpu_s"] == pytest.approx(0.0)


def test_cpu_self_check_fails_loudly_on_unattributed_cpu(log):
    with pytest.raises(RuntimeError, match="self-check"):
        cpu_self_check(log, {"span:0"}, 1000.0, 1005.0)  # span:1's CPU escaped


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "link", None, 0.0, 10.0),
        Span(1, "catalog", 0, 2.0, 4.0),
        Span(2, "finalize", 0, 3.0, 6.0),  # overlaps its sibling: covered once
        Span(3, "probe", 2, 3.5, 4.5),
        Span(4, "late", 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_fingerprint_is_order_independent_and_duplicate_sensitive():
    rows = [("a", "TOUCHED", "act-001", 5, "doc-1", 0), ("b", "PURCHASED", "prd-0002", None, "doc-2", 3)]
    shuffled = rows[::-1]
    assert content_fingerprint(rows) == content_fingerprint(shuffled)
    assert content_fingerprint(rows) != content_fingerprint(rows + rows[:1])
    assert content_fingerprint(rows) != content_fingerprint([rows[0], ("b", "PURCHASED", "prd-0002", None, "doc-2", 4)])
    assert content_fingerprint([]) == "0:" + "0" * 32


def test_fingerprint_normalizes_timestamp_units():
    import datetime as dt

    ts = [dt.datetime(2025, 1, 2, 3, 4, 5, 123000)]
    us_utc = pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC"))})
    ns_naive = pa.table({"ts": pa.array(ts, pa.timestamp("ns"))})
    assert table_rows(us_utc, ["ts"]) == table_rows(ns_naive, ["ts"])
    assert content_fingerprint(table_rows(us_utc, ["ts"])) == content_fingerprint(table_rows(ns_naive, ["ts"]))


def test_fingerprint_matches_across_random_partitionings():
    rng = random.Random(7)
    rows = [(rng.randrange(50), rng.choice("xyz")) for _ in range(500)]
    parts = [rows[i::3] for i in range(3)]
    assert content_fingerprint(r for p in reversed(parts) for r in p) == content_fingerprint(rows)


def test_seed_ranked_is_a_deterministic_permutation():
    from kgbench.workloads import seed_ranked

    a = seed_ranked(3, 1000)
    assert a == seed_ranked(3, 1000)
    assert sorted(a) == list(range(1000))
    assert a[:100] != seed_ranked(4, 1000)[:100]
