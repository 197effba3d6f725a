"""Unit tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

import gen
import metrics
import shared
import stats


def test_nearest_rank_and_samples_beyond():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(99, 90) == 9
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond():
    # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    assert stats.tail_percentile(list(range(100))) == (90.0, 89)
    # 1000 samples: p99 leaves 10 beyond
    assert stats.tail_percentile(list(range(1000)))[0] == 99.0
    # 40 samples: p75 leaves 10 beyond, p90 only 4
    assert stats.tail_percentile(list(range(40)))[0] == 75.0
    # 19 samples: even the median leaves only 9 beyond
    assert stats.tail_percentile(list(range(19))) is None
    assert stats.tail_percentile(list(range(20)))[0] == 50.0


def test_tail_percentile_ignores_input_order():
    values = list(range(200))
    random.Random(0).shuffle(values)
    assert stats.tail_percentile(values) == (95.0, 189)


def test_union_length_merges_overlaps_once():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 2), (1, 3)]) == 3
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert stats.union_length([(1, 1), (3, 2)]) == 0  # empty and inverted intervals


def test_self_time_subtracts_children_once():
    assert stats.self_time(10.0, []) == 10.0
    # two overlapping children cover [2, 6]
    assert stats.self_time(10.0, [(2.0, 5.0), (3.0, 6.0)]) == 6.0
    # disjoint children add up
    assert stats.self_time(10.0, [(0.0, 1.0), (9.0, 10.0)]) == 8.0
    # a child nested in another takes nothing extra
    assert stats.self_time(10.0, [(1.0, 9.0), (2.0, 3.0)]) == 2.0


def test_idle_progress_reports_do_not_count_as_triggers():
    # an idle query reports a no-data progress event every 10 s; a client
    # that counted reports would take one for a processed file
    prog = [{"batchId": 0, "numInputRows": 400},
            {"batchId": 1, "numInputRows": 0},
            {"batchId": 1, "numInputRows": 400}]
    assert [p["batchId"] for p in shared.data_batches(prog)] == [0, 1]


def test_generators_are_deterministic_and_seeded():
    a, _ = gen.tweet_file(5, 1, 200, gen.BASE_MS, 60_000)
    b, _ = gen.tweet_file(5, 1, 200, gen.BASE_MS, 60_000)
    c, _ = gen.tweet_file(6, 1, 200, gen.BASE_MS, 60_000)
    assert a == b and a != c
    assert len(a) == 200 + gen.MALFORMED_PER_FILE
    docs = gen.document_files(5, 3, 100, 0.2)
    assert docs == gen.document_files(5, 3, 100, 0.2)
    planted = [d for _, p in docs for d in p]
    assert 30 <= len(planted) <= 90
    ids = [json.loads(line)["doc_id"] for lines, _ in docs for line in lines]
    assert ids == sorted(set(ids))


def test_tweet_disorder_stays_inside_tolerance():
    lines, max_ts = gen.tweet_file(1, 3, 2_000, gen.BASE_MS, 600_000)
    seen = 0
    for line in lines[:-gen.MALFORMED_PER_FILE]:
        ts = int(json.loads(line)["timestamp_ms"])
        assert ts > seen - 5_000
        seen = max(seen, ts)
    assert seen == max_ts


def test_benchmark_json_matches_metric_tables():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        assert json.load(f) == metrics.benchmark_json()
