"""Tests of the benchmark's pure parts: the percentile rule, pairwise F1,
the input generator, and span attribution on a canned event log. No Spark.

    python3 -m pytest erbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import quality  # noqa: E402
import spans  # noqa: E402
from spans import Span  # noqa: E402


# -- the percentile rule -------------------------------------------------------
def test_p50_is_the_median():
    assert quality.p50([3.0, 1.0, 2.0]) == 2.0
    assert quality.p50([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_spread_is_interquartile_distance_over_median():
    # statistics.quantiles(1..10, n=4) -> q1 2.75, q3 8.25; median 5.5
    assert quality.spread(list(range(1, 11))) == pytest.approx(1.0)
    assert quality.spread([5.0] * 10) == 0.0


# -- pairwise F1 ---------------------------------------------------------------
def test_pair_f1_identity():
    c = {"a": "a", "b": "a", "c": "c"}
    assert quality.pair_f1(c, c) == (1.0, 1.0, 1.0)


def test_pair_f1_counts_pairs_not_ids():
    truth = {"a": "a", "b": "a", "c": "a", "d": "d"}  # 3 true pairs
    pred = {"a": "a", "b": "a", "c": "c", "d": "d"}  # 1 predicted pair, correct
    f1, precision, recall = quality.pair_f1(pred, truth)
    assert (precision, recall) == (1.0, pytest.approx(1 / 3))
    assert f1 == pytest.approx(0.5)


def test_pair_f1_wrong_merge_costs_precision():
    truth = {"a": "a", "b": "a", "c": "c", "d": "c"}
    pred = {"a": "a", "b": "a", "c": "a", "d": "a"}  # 6 pairs, 2 right
    f1, precision, recall = quality.pair_f1(pred, truth)
    assert (precision, recall) == (pytest.approx(1 / 3), 1.0)
    assert f1 == pytest.approx(0.5)


def test_pair_f1_refuses_different_ids():
    with pytest.raises(ValueError):
        quality.pair_f1({"a": "a"}, {"b": "b"})


def test_planted_reposts_follow_the_derivation():
    assert quality.planted_reposts([0, 5, 7, 35, 11]) == [
        ("c00000000", "d00000000"),
        ("c00000005", "n00000005"),
        ("c00000007", "d00000007"),
        ("c00000035", "d00000035"),
    ]
    clusters = {"c00000005": "c00000005", "n00000005": "c00000005", "c00000007": "c00000007", "d00000007": "d00000007"}
    assert quality.repost_misses(clusters, [5, 7]) == [("c00000007", "d00000007")]


def test_conversations_count_turns_and_reposts():
    # 9 words -> 2 turns, with the exact repost of doc 0; 8 words -> 1 turn
    convs = quality.conversations([0, 1, 10], ["w " * 9, "w " * 8, "w"])
    assert convs == {"c00000000": (2, 18), "d00000000": (2, 18), "c00000001": (1, 16), "c00000010": (1, 1), "n00000010": (1, 1)}


# -- the input generator ---------------------------------------------------------
def test_seed_zero_is_the_identity_and_seeds_permute():
    pool = gen.text_pool(200)
    same = gen.permuted(pool, 0)
    assert same.column("doc_id").to_pylist() == list(range(200))
    assert same.column("text").to_pylist() == pool.column("text").to_pylist()
    a, b = gen.permuted(pool, 3), gen.permuted(pool, 3)
    assert a.equals(b)
    assert a.column("doc_id").to_pylist() == list(range(200))
    assert sorted(a.column("text").to_pylist()) == sorted(pool.column("text").to_pylist())
    assert a.column("text").to_pylist() != pool.column("text").to_pylist()


def test_pool_shape():
    pool = gen.text_pool(500)
    lengths = [len(t.split()) for t in pool.column("text").to_pylist()]
    assert min(lengths) >= 10 and max(lengths) <= 100
    assert set(w for t in pool.column("text").to_pylist() for w in t.split()) <= set(gen.VOCAB)


# -- spans and the event log -------------------------------------------------------
def _ev(**kw):
    return json.dumps(kw)


CANNED_LOG = [
    _ev(Event="SparkListenerApplicationStart", Timestamp=0),
    # job 0, tagged with span 1: stages 0 and 1
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 2000, "Stage IDs": [0, 1],
                                          "Properties": {"spark.job.description": "erbench:1"}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
        "Executor CPU Time": 500_000_000,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
        "Executor CPU Time": 250_000_000,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1_000_000},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000}),
    # job 1, untagged, lists the already-run stage 1 (skipped) and stage 2
    _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 6500, "Stage IDs": [1, 2], "Properties": {}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor CPU Time": 100_000_000}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor CPU Time": 100_000_000}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 7000}),
    # job 2, untagged, inside span 2 but outside its child
    _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 8000, "Stage IDs": [3]}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 8500}),
]

SPANS = [
    Span(0, "pass", 0.0, 10.0, None, "pass0"),
    Span(1, "blocking", 1.0, 4.0, 0, "pass0"),
    Span(2, "scoring", 5.0, 9.0, 0, "pass0"),
    Span(3, "state.upsert", 6.0, 7.5, 2, "pass0"),
]


def test_read_event_log_sums_tasks_cpu_and_shuffle_per_job():
    jobs = spans.read_event_log(CANNED_LOG)
    assert [j.id for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    assert (j0.start, j0.end, j0.span) == (2.0, 3.0, 1)
    assert (j0.tasks, j0.cpu_s, j0.shuffle_bytes) == (2, pytest.approx(0.75), 2_000_000)
    # stage 1 belongs to job 0, which listed it first
    assert (j1.span, j1.tasks, j1.cpu_s) == (None, 2, pytest.approx(0.2))
    assert (j2.tasks, j2.end) == (0, 8.5)


def test_attribution_by_tag_then_deepest_window():
    jobs = spans.read_event_log(CANNED_LOG)
    by_span = spans.attribute(SPANS, jobs)
    assert {sid: [j.id for j in js] for sid, js in by_span.items()} == {1: [0], 3: [1], 2: [2]}
    assert [j.id for j in spans.subtree_jobs(SPANS[2], SPANS, by_span)] == [2, 1]


def test_layer_table_self_time_and_gaps():
    jobs = spans.read_event_log(CANNED_LOG)
    t = spans.layer_table(SPANS, jobs)
    assert t["blocking.wall_s"] == 3.0 and t["blocking.self_s"] == 3.0
    assert t["blocking.jobs"] == 1 and t["blocking.cpu_s"] == pytest.approx(0.75)
    assert t["blocking.shuffle_mb"] == pytest.approx(2.0)
    assert t["blocking.gap_s"] == pytest.approx(2.0)  # 1..4 minus job 2..3
    assert t["scoring.wall_s"] == 4.0 and t["scoring.self_s"] == 2.5
    assert t["scoring.gap_s"] == pytest.approx(2.0)  # 5..6 and 7.5..9 minus job 8..8.5
    assert t["state.self_s"] == 1.5 and t["state.jobs"] == 1
    assert t["state.gap_s"] == pytest.approx(1.0)  # 6..7.5 minus job 6.5..7
    assert spans.layer_table(SPANS, jobs, passes=2)["scoring.self_s"] == 1.25


def test_cover_frac_counts_layer_self_time_under_the_roots():
    # layer self times 3 + 2.5 + 1.5 over the 10 s pass
    assert spans.cover_frac(SPANS, [SPANS[0]]) == pytest.approx(0.7)


def test_interval_helpers():
    assert spans.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert spans.length([(0, 1), (0.5, 2), (3, 4)]) == 3
    assert spans.subtract((0, 10), [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]


def test_tracer_records_parents_and_disables():
    tr = spans.Tracer()
    with tr.span("pass"):
        with tr.span("blocking"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("pass", None), ("blocking", 0)]
    assert all(s.end >= s.start for s in tr.spans)
    off = spans.Tracer(enabled=False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_benchmark_json_matches_the_reported_metrics():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert tuple(m["name"] for m in bench["end_to_end"]) == run.END_TO_END
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == run.unit(m["name"]), m["name"]


def test_cli_names_every_workload():
    import run

    sys.path.insert(0, run.REPO)
    import workloads

    assert set(run.WORKLOADS) == set(workloads.WORKLOADS)
