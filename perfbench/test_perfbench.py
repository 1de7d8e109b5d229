"""Spark-free tests of the benchmark's own arithmetic: the percentile rule,
each operation's best time, span self time, the storage ratio, the feed's
expected outcome, event-log attribution, result normalisation, failure
counting and the metric list in BENCHMARK.json.

Run with ``python3 -m pytest perfbench -q`` from the repository root."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import feed, stats
from perfbench.spans import Span, exec_by_span

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("n,rank", [(1, None), (19, None), (20, 50), (39, 50), (40, 75),
                                    (99, 75), (100, 90), (200, 95), (1000, 99), (10000, 99.9)])
def test_tail_rank_keeps_ten_samples_beyond(n, rank):
    assert stats.tail_rank(n) == rank


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values[::-1], 90) == 90
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_fastest_keeps_each_operations_best_time():
    assert stats.fastest([{"a": 3.0, "b": 1.0}, {"a": 2.0}, {"a": 5.0, "b": 4.0}]) == {"a": 2.0, "b": 1.0}
    assert stats.fastest([]) == {}


def test_self_time_subtracts_covered_child_time():
    spans = [
        (0, None, 0.0, 10.0),
        (1, 0, 1.0, 4.0),
        (2, 0, 3.0, 6.0),  # overlaps its sibling: the overlap counts once
        (3, 1, 2.0, 3.0),
        (4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10 - 5 - 1)
    assert own[1] == pytest.approx(3 - 1)
    assert own[2] == pytest.approx(3)
    assert own[3] == pytest.approx(1)


def test_storage_ratio():
    assert stats.storage_ratio(50, 200) == 0.25
    with pytest.raises(ValueError):
        stats.storage_ratio(50, 0)


def _doc(type_, id_, version, deleted=False, **payload):
    return feed._Doc(type_, id_, version, deleted, payload)


def test_expected_outcome_of_a_hand_built_feed():
    lines = [{"LISTITEM_ID": f"tl-{i}", "QTY": i, "COST": 1.0} for i in range(25)]
    afe1 = _doc("AFE", "afe-1", 1, PARTNERS=[{"LISTITEM_ID": "li-0", "SHARE": 7}], DETAILS={"DEPTH_M": 5})
    page1 = [afe1, _doc("TICKET", "tkt-1", 1, LINES=lines), None]
    page2 = [
        afe1,  # re-synced copy: supersedes the first
        _doc("AFE", "afe-1", 2, deleted=True, PARTNERS=[]),
        _doc("VENDOR", "vnd-1", 1, RATING=4),
        _doc(feed.UNKNOWN_TYPE, "wid-1", 1),
    ]
    exp = feed.expected([page1, page2], chunk_size=10)
    assert (exp.lines, exp.skipped, exp.docs) == (7, 1, 6)
    assert exp.page_rows == [1 + 1 + 3, 4]  # 25 lines at 10 per chunk: 3 chunk rows
    assert exp.chunk_rows == 3
    assert exp.rows_removed == 1
    assert exp.view_rows == {"AFE": 1, "AFE_DETAILS": 1, "AFE_PARTNERS": 0, "VENDOR": 1,
                             "TICKET": 1, "TICKET_LINES": 25}
    assert exp.view_sums == {"AFE": 1, "AFE_DETAILS": 0, "AFE_PARTNERS": 0, "VENDOR": 4,
                             "TICKET": 0, "TICKET_LINES": sum(range(25))}
    assert exp.watermark == "page_00001.ndjson"


def test_generated_feed_is_seeded_and_consistent():
    spec = feed.FeedSpec(page_docs=(30, 20, 20), chunk_size=5, ticket_lines=(1, 12))
    pages, docs = feed.generate(7, spec)
    assert feed.generate(7, spec)[0] == pages
    assert feed.generate(8, spec)[0] != pages
    assert [len(p) for p in pages] == [n + feed.UNKNOWN_PER_PAGE + feed.MALFORMED_PER_PAGE
                                       for n in spec.page_docs]
    for page, carried in zip(pages, docs):
        keys = [(d.type, d.id, d.version) for d in carried if d is not None]
        assert len(keys) == len(set(keys)), "a version twice in one page would be deduplicated"
        for line, d in zip(page, carried):
            if d is None:
                record = None
                try:
                    record = json.loads(line)
                except json.JSONDecodeError:
                    pass
                assert record is None or "$VERSION" not in record
            else:
                assert json.loads(line)["DOCUMENT_ID"] == d.id
    exp = feed.expected(docs, spec.chunk_size)
    assert exp.docs + exp.skipped == exp.lines
    assert exp.rows_removed > 0 and exp.chunk_rows > 0


def test_events_attribute_jobs_by_group_then_by_time():
    spans = [Span(0, "bench.job", 100.0, 110.0), Span(1, "sinks.append", 101.0, 102.0, parent=0),
             Span(2, "plans.collect.streaming", 103.0, 105.0, parent=0)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Submission Time": 101500,
         "Properties": {"spark.jobGroup.id": "perfbench-span-1"}},
        # a streaming query sets its own group: attributed by submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Submission Time": 104000,
         "Properties": {"spark.jobGroup.id": "some-stream-run-id"}},
        # before the pass: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Submission Time": 50000,
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Input Metrics": {"Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 9000}},
    ]
    out, unmatched = exec_by_span(events, spans, spans[0])
    assert unmatched == 0
    assert (out[1].jobs, out[1].task_core_s, out[1].input_bytes, out[1].shuffle_bytes, out[1].spill_bytes) \
        == (1, 1.5, 10, 20, 3)
    assert (out[2].jobs, out[2].task_core_s) == (1, 0.5)
    assert 0 not in out


def test_normalised_results_are_dtype_strict_like_the_gate():
    import pandas as pd

    from perfbench import registry

    def norm(**cols):
        return registry.normalise(pd.DataFrame(cols))

    # column order and row order do not matter
    a = norm(b=pd.Series([5, 3], dtype="int64"), a=["x", "y"])
    assert a == norm(a=["y", "x"], b=pd.Series([3, 5], dtype="int64"))
    assert a[0] == ("a", "b") and a[1] == ("object", "int64")
    # the widenings the gate tolerates: integer width, timestamp resolution
    assert norm(n=pd.Series([1, 2], dtype="int32")) == norm(n=pd.Series([1, 2], dtype="int64"))
    ts = pd.Series(pd.to_datetime(["2026-01-01 00:00:01"]))
    assert norm(t=ts.astype("datetime64[ns]")) == norm(t=ts.astype("datetime64[us]"))
    # and nothing else: int against float, or a value off in the last digit
    assert norm(n=pd.Series([1, 2], dtype="int64")) != norm(n=pd.Series([1.0, 2.0]))
    assert norm(x=[0.1 + 0.2]) != norm(x=[0.3])
    assert registry.digest(a) != registry.digest(norm(a=["x", "y"], b=pd.Series([5, 4], dtype="int64")))


def test_an_operation_fails_once_however_many_checks_fail():
    out = stats.Outcomes()
    out.attempt("page 0")
    out.attempt("replay")
    out.check("page 0", True, "watermark")
    out.check("replay", False, "landed 3 rows")
    out.check("replay", False, "final watermark")
    assert (out.attempted, out.failed) == (2, 1)
    assert out.errors == ["replay: landed 3 rows", "replay: final watermark"]
    with pytest.raises(ValueError):
        out.attempt("replay")
    with pytest.raises(ValueError):
        out.check("prune", True, "")


def test_registry_sample_is_one_query_of_every_family_in_order():
    from perfbench import registry

    names = list(registry.declared())
    picked = list(registry.SAMPLE)
    assert sorted(registry.family(n) for n in picked) == sorted(registry.FAMILY_NAMES)
    assert picked == [n for n in names if n in set(picked)]
    assert set(picked) <= set(registry.load_oracles())


def test_benchmark_json_lists_what_the_runner_prints():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.per_layer_specs()
