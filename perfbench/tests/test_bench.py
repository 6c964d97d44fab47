"""Tests of the benchmark's own pieces; no Spark session needed.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import types

import pytest

from perfbench import check, inputs, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_schedule_is_a_function_of_the_seed():
    a = inputs.schedule(7, "serve", 300)
    assert a == inputs.schedule(7, "serve", 300)
    assert a != inputs.schedule(8, "serve", 300)
    assert inputs.golden_set(7) == inputs.golden_set(7)
    assert inputs.golden_set(7) != inputs.golden_set(8)

    # one append and one delete (run in set-up), then reads only
    assert a[:2] == [inputs.Op("append", 0), inputs.Op("delete", 0)]
    reads = a[2:]
    assert len(reads) == 300 and all(op.kind == "read" for op in reads)
    assert 0.1 < sum(op.repeat for op in reads) / len(reads) < 0.3
    assert all(1 <= len(op.arg.split()) <= 5 for op in reads)


def test_repeats_only_repeat_earlier_questions():
    asked: set[str] = set()
    for op in inputs.schedule(3, "serve", 400)[2:]:
        if op.repeat:
            assert op.arg in asked
        else:
            asked.add(op.arg)


def test_batch_schedule_only_reads_the_golden_set():
    ops = inputs.schedule(1, "batch", 50)
    assert ops == [inputs.Op("read")] * 50


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, (50.0, 10.0)), (39, (50.0, 20.0)), (40, (75.0, 30.0)), (100, (90.0, 90.0)), (1000, (99.0, 990.0))],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, want):
    values = [float(v) for v in range(n, 0, -1)]  # n..1, unsorted input
    got = check.tail(values)
    assert got == want
    if got is not None:
        assert sum(v > got[1] for v in values) >= 10


def test_cache_key_changes_with_every_part(tmp_path):
    sources = ("a.py", "b/c.py")
    for rel in sources:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(f"# {rel}\n")
    root = str(tmp_path)
    key = inputs.cache_key(root, 100, 1, sources)
    assert key == inputs.cache_key(root, 100, 1, sources)
    assert key != inputs.cache_key(root, 101, 1, sources)
    assert key != inputs.cache_key(root, 100, 2, sources)
    for rel in sources:
        before = (tmp_path / rel).read_text()
        (tmp_path / rel).write_text(before + "x = 1\n")
        assert inputs.cache_key(root, 100, 1, sources) != key
        (tmp_path / rel).write_text(before)
    assert inputs.cache_key(root, 100, 1, sources) == key


def test_cache_sources_cover_the_oracle_and_generators():
    for rel in inputs.CACHE_SOURCES:
        assert os.path.isfile(os.path.join(ROOT, rel)), rel
    assert "statschat_ke_spark/index/oracle.py" in inputs.CACHE_SOURCES
    assert "statschat_ke_spark/corpus.py" in inputs.CACHE_SOURCES


@pytest.fixture(scope="module")
def small_inputs(tmp_path_factory):
    return inputs.Inputs(ROOT, str(tmp_path_factory.mktemp("cache")), seed=5, n_docs=300)


def test_inputs_are_cached_by_key(small_inputs, tmp_path_factory):
    again = inputs.Inputs(ROOT, os.path.dirname(small_inputs.dir), seed=5, n_docs=300)
    assert again.hit and not small_inputs.hit
    assert again.base_urls == small_inputs.base_urls


def test_snapshots_ignore_resends_and_keep_deletes_terminal(small_inputs):
    snaps = check.Snapshots(small_inputs)
    snaps.append(0)
    fresh = set(small_inputs.fresh_urls(0))
    assert snaps.live[1] == snaps.live[0] | fresh
    victims = set(small_inputs.delete_urls(0))
    snaps.delete(0)
    assert not victims & snaps.live[2]
    # a later append that re-sends deleted urls does not bring them back
    small_inputs.resend_urls = lambda i: sorted(victims)[:3]
    try:
        snaps.append(0)
    finally:
        del small_inputs.resend_urls
    assert snaps.live[3] == snaps.live[2]


def _verify(golden, reads, want):
    """Bench.verify over hand-made reads, with the oracle answering ``want``."""
    bench = object.__new__(run.Bench)
    bench.golden, bench.reads = golden, reads
    bench.attempted = bench.failed = 0
    bench.snaps = types.SimpleNamespace(
        topk=lambda snap, q: want[q], search=lambda snap, q, now: want[q]
    )
    bench.verify()
    return bench.attempted, bench.failed


def test_a_wrong_topk_counts_as_failed():
    golden = {0: "alpha", 1: "beta"}
    want = {"alpha": [(5, 2.0), (-3, 1.5)], "beta": [(9, 0.7)]}
    rows = [(0, 1, 5, 2.0), (0, 2, -3, 1.5), (1, 1, 9, 0.7)]
    assert _verify(golden, [{"snap": 0, "rows": rows}], want) == (2, 0)

    swapped = [(0, 1, -3, 1.5), (0, 2, 5, 2.0), (1, 1, 9, 0.7)]
    assert _verify(golden, [{"snap": 0, "rows": swapped}], want) == (2, 1)
    off = [(0, 1, 5, 2.0), (0, 2, -3, 1.5), (1, 1, 9, 0.7 + 1e-6)]
    assert _verify(golden, [{"snap": 0, "rows": off}], want) == (2, 1)
    missing = rows[:2]
    assert _verify(golden, [{"snap": 0, "rows": missing}], want) == (2, 1)


def test_a_wrong_search_answer_counts_as_failed():
    want = {"q": [(5, 2.004), (7, 1.5)]}
    good = [{"doc_id": 5, "score": 2.0}, {"doc_id": 7, "score": 1.5}]
    bad = [{"doc_id": 7, "score": 1.5}, {"doc_id": 5, "score": 2.0}]
    reads = [{"snap": 0, "q": "q", "refs": good}, {"snap": 0, "q": "q", "refs": bad}]
    assert _verify(None, reads, want) == (2, 1)


def test_expected_search_dedups_decays_and_filters():
    import datetime as dt

    d = dt.date(2024, 6, 30)
    meta = {1: ("t", d), 2: ("t", d), 3: ("u", d), 4: ("v", d - dt.timedelta(days=4000))}
    top = [(1, 10.0), (2, 9.0), (3, 8.0), (4, 7.9)]
    got = check.expected_search(top, meta, "q", "2024-06-30")
    # doc 2 duplicates doc 1's (title, date); doc 4 decays below best / 1.5
    assert [g[0] for g in got] == [1, 3]
    assert got[0][1] == pytest.approx(10.0 * 1.0)


def test_event_log_attributes_work_to_spans():
    events = [
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": 0,
            "jobGroupId": "pb-1",
            "sparkPlanInfo": {
                "nodeName": "Scan parquet",
                "metadata": {"Location": "InMemoryFileIndex[file:/x/postings]"},
                "metrics": [
                    {"name": "number of output rows", "accumulatorId": 11},
                    {"name": "size of files read", "accumulatorId": 12},
                ],
                "children": [],
            },
        },
        {"Event": "SparkListenerJobStart", "Properties": {trace.GROUP: "pb-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4}, "Properties": {trace.GROUP: "pb-1"}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 4,
            "Task Metrics": {
                "Executor CPU Time": 2e9,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            },
            "Task Info": {
                "Accumulables": [
                    {"ID": 11, "Name": "number of output rows", "Update": "42"},
                    {"ID": 99, "Name": trace.UDF_SENT, "Update": "7"},
                ]
            },
        },
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 0, "accumUpdates": [[12, 4096]]},
    ]
    got = trace.group_metrics(events)["pb-1"]
    assert got["jobs"] == 1 and got["stages"] == 1 and got["tasks"] == 1
    assert got["executor_cpu_s"] == 2.0
    assert got["postings_records_read"] == 42 and got["postings_bytes_read"] == 4096
    assert got["udf_bytes_sent"] == 7 and got["shuffle_write_bytes"] == 100

    spans = [{"id": "pb-0", "parent": None}, {"id": "pb-1", "parent": "pb-0"}]
    totals, _ = trace.subtree_totals(spans, {"pb-1": got, "pb-0": {"jobs": 2.0}})
    assert totals["pb-0"]["jobs"] == 3 and totals["pb-0"]["tasks"] == 1


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])
