"""Percentile rules, stream arithmetic, spans, event-log accounting and
the failure count, on synthetic inputs."""

import json

import core
import gen
import pytest
import yelp


def test_percentile_printed_only_with_ten_samples_beyond():
    assert core.tail_printable(1000, 99.0)
    assert not core.tail_printable(999, 99.0)
    assert core.tail_printable(100, 90.0)
    assert core.highest_tail(10000) == 99.9
    assert core.highest_tail(5000) == 99.0
    assert core.highest_tail(150) == 90.0
    assert core.highest_tail(99) is None


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert core.median(xs) == 3.0
    assert core.percentile(xs, 90.0) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        core.percentile([], 50.0)


def _synthetic_stream(rate, seconds, emit_every_ms, batch_ms):
    """Rows due every 1000/rate ms; a batch fires every emit_every_ms,
    takes every row due by its start and is emitted batch_ms later."""
    dues = [int(v * 1000 / rate) for v in range(rate * seconds)]
    batch_of, emit = [], {}
    b, start = 0, emit_every_ms
    i = 0
    while i < len(dues):
        emit[b] = start + batch_ms
        while i < len(dues) and dues[i] <= start:
            batch_of.append(b)
            i += 1
        b, start = b + 1, start + emit_every_ms
    return dues, batch_of, emit


def test_latency_and_backlog_of_a_stream_that_keeps_up():
    dues, batch_of, emit = _synthetic_stream(rate=100, seconds=10, emit_every_ms=1000, batch_ms=200)
    lat = core.row_latencies(dues, batch_of, emit)
    assert min(lat) == 200  # a row due exactly at a trigger waits only for the batch
    assert max(lat) == 1200  # row 0, due at 0, waits for the first trigger at 1000
    assert core.median(lat) == pytest.approx(695, abs=10)
    backlog = core.backlog_at_emits(dues, batch_of, emit)
    assert [b for _, b in backlog[1:-1]] == [20] * (len(backlog) - 2)  # 200 ms worth at 100 rows/s
    assert not core.backlog_growing(backlog[1:], 100)


def test_backlog_of_a_stream_that_falls_behind_grows():
    dues = [int(v * 10) for v in range(1000)]  # 100 rows/s for 10 s
    batch_of, emit = [], {}
    # the sink emits 60 rows per second: 40 % of the offered rate piles up
    for v in range(len(dues)):
        b = v // 60
        batch_of.append(b)
        emit[b] = (b + 1) * 1000.0
    backlog = core.backlog_at_emits(dues, batch_of, emit)
    assert core.slope_per_s(backlog[:8]) == pytest.approx(40, rel=0.05)
    assert core.backlog_growing(backlog[:8], 100)


def test_exactly_once_counts_missing_and_duplicate_rows():
    assert core.exactly_once_failures([0, 1, 2, 3], 3) == (4, 0)
    assert core.exactly_once_failures([0, 1, 1, 3], 3) == (4, 2)  # 1 twice, 2 missing
    assert core.exactly_once_failures([0, 1, 2, 3, 9], 3) == (4, 0)  # not yet due


def test_self_time_subtracts_children():
    log = core.SpanLog()
    outer = log.open("ml.compare", "ml")
    inner = log.open("ml.fit.svm", "ml")
    log.close(inner)
    log.close(outer)
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 5.0
    eval_span = core.Span("ml.eval", "ml", 4.0, 6.0, parent=outer.sid, sid=2)
    log.spans.append(eval_span)
    assert log.self_time("ml.compare") == pytest.approx(6.0)  # children cover 2..6
    assert log.self_time("ml.fit.svm") == pytest.approx(3.0)
    assert log.self_times()["ml"] == pytest.approx(6.0 + 3.0 + 2.0)


def test_event_log_counts_by_group_and_layer():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "sources.read"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "run-abc"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor CPU Time": 5, "JVM GC Time": 7}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": True},
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 3}, "Memory Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {}, "Task Metrics": {"JVM GC Time": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {}, "Task Metrics": {"JVM GC Time": 100}},
    ]
    groups = core.parse_event_log([json.dumps(e) for e in lines], {"run-abc": "streaming"})
    assert set(groups) == {"sources.read", "streaming"}
    read = groups["sources.read"]
    assert (read.jobs, read.tasks, read.failed_tasks) == (1, 2, 1)
    assert (read.cpu_ns, read.gc_ms, read.shuffle_bytes, read.spill_bytes) == (5, 7, 3, 2)
    layers = core.by_layer(groups)
    assert layers["streaming"].gc_ms == 1 and "session" not in layers


def _correct_outputs(truth):
    return {
        "stars": [{"stars": s, "count": n} for s, n in truth.stars.items()],
        "elite": [{"is_elite": e, "stars": s, "count": n} for (e, s), n in truth.elite_stars.items()],
        "top": [{"category": c, "count": n} for c, n in truth.top_categories(10)],
        "hist": [{"count": truth.n_kept}],
        "sentiment": [None] * truth.n_kept,
        "vader": [None] * truth.n_kept,
        "models": {"svm": 0.9, "logreg": 0.9, "nb": 0.9},
        "f1": 0.9,
    }


def test_a_wrong_output_counts_as_a_failed_operation():
    _, truth = gen.make_yelp(1, 1000)
    checks = core.Checks()
    assert checks.op(yelp.pass_checks(_correct_outputs(truth), truth))
    wrong = _correct_outputs(truth)
    wrong["stars"][0]["count"] += 1
    assert not checks.op(yelp.pass_checks(wrong, truth))
    broken_model = _correct_outputs(truth)
    broken_model["f1"] = 0.61  # what a constant predictor scores
    assert not checks.op(yelp.pass_checks(broken_model, truth))
    assert (checks.attempted, checks.failed) == (3, 2)
    assert checks.error_rate == pytest.approx(2 / 3)
    assert "eda_star_distribution" in checks.messages[0]


def test_bulk_failures_count_against_attempted_rows():
    checks = core.Checks()
    checks.bulk(100, 0, "rows")
    checks.bulk(0, 3, "rows scored differently")
    assert (checks.attempted, checks.failed) == (100, 3)
