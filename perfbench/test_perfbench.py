"""Self-test of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import OpLedger, summarize, uncovered, union_length  # noqa: E402
from tracing import (  # noqa: E402
    PER_LAYER, Span, layer_metrics, parse_event_log,
)
from workloads import (  # noqa: E402
    Ctx, _events_in, _finish, _shingles, expected_kept,
)


# ------------------------------------------------------ percentile rule

def test_no_high_percentile_below_eleven_samples():
    s = summarize([float(i) for i in range(10)])
    assert s["n"] == 10 and s["p50"] == 4.5
    assert s["hi"] is None and s["hi_pct"] is None


def test_high_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 1..40
    s = summarize(list(reversed(xs)))
    assert s["hi"] == 30.0 and s["hi_pct"] == 75
    assert sum(1 for x in xs if x > s["hi"]) == 10


def test_eleven_samples_give_the_minimum():
    s = summarize([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert s["hi"] == 1.0 and s["hi_pct"] == 9


# -------------------------------------------------- failure accounting

def test_ledger_counts_raised_and_post_check_failures():
    led = OpLedger()
    led.record("a", 0.5, True, cpu_s=1.5, items=10)
    led.record("a", 0.7, False, cpu_s=2.0, items=10)
    led.record("b", 0.1, True)
    assert (led.attempted, led.failed) == (3, 1)
    led.fail()  # a check outside the clock rejects one more op
    assert led.failure_ratio == pytest.approx(2 / 3)
    assert led.by_kind() == {"a": [0.5, 0.7], "b": [0.1]}
    assert led.by_kind("cpu_s") == {"a": [1.5, 2.0], "b": [0.0]}
    # a failed op consumed no input
    assert [op.items for op in led.ops] == [10, 0, 1]


def test_empty_ledger_reads_as_all_failed():
    assert OpLedger().failure_ratio == 1.0


# ------------------------------------------------- interval arithmetic

def test_union_merges_overlaps_and_ignores_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4


def test_uncovered_clips_to_the_span():
    # span [10, 20]; children cover [8, 12] and [15, 16] and [19, 30]
    assert uncovered(10, 20, [(8, 12), (15, 16), (19, 30)]) == 10 - 2 - 1 - 1
    assert uncovered(10, 20, []) == 10


def _ev(**kw):
    return json.dumps(kw)


def test_event_log_parser_and_layer_arithmetic():
    lines = [
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 101_000, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "pb2"},
            "Stage Infos": [{"Stage ID": 1, "RDD Info": [
                {"Scope": '{"id":"3","name":"ArrowEvalPython"}'}]}]}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 0, "Task Metrics": {
                "Executor Run Time": 1500, "JVM GC Time": 100,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
                "Output Metrics": {"Bytes Written": 10}}}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 1, "Task Metrics": {"Executor Run Time": 500}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0,
                                            "Completion Time": 103_000}),
        # a streaming query's job, tagged with the query's run id
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 106_000, "Stage IDs": [2],
            "Properties": {"spark.jobGroup.id": "run-uuid"}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1,
                                            "Completion Time": 107_000}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 2, "RDD Info": [
                {"Scope": '{"id":"9","name":"BatchEvalPython"}'}]}}),
        # before the timed window: ignored
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 2, "Submission Time": 50_000, "Stage IDs": [],
            "Properties": {}}),
    ]
    jobs, stages = parse_event_log(lines)
    assert jobs[0]["group"] == "pb2" and jobs[0]["t1"] == 103.0
    assert stages[0]["exec_s"] == 1.5 and stages[0]["shuffle_mb"] == 2.0
    assert stages[1]["scopes"] == {"ArrowEvalPython"}

    spans = [
        Span("pb2", "lake.merge", 100.0, 104.0, "pb1", "pb1"),
        Span("pb3", "streaming.replicate", 105.0, 110.0, None, "pb3"),
        Span("pb1", "streaming.replay", 99.0, 104.5, None, "pb1"),
    ]
    spans[0].attrs.update(files_written=3, rows_written=30, bytes_written=300)
    m = layer_metrics(spans, {"run-uuid": "pb3"}, jobs, stages,
                      timed_window=(99.0, 110.0),
                      extra={"input_bytes_consumed": 5})
    assert list(m) == [n for n, _ in PER_LAYER]
    assert m["lake.merge.calls"] == 1 and m["lake.merge.busy_s"] == 4.0
    # merge [100, 104] ran job 0 over [101, 103]
    assert m["lake.merge.no_job_s"] == 2.0
    assert m["lake.merge.spark_tasks"] == 2
    assert m["lake.merge.executor_s"] == 2.0 and m["lake.merge.gc_s"] == 0.1
    assert m["lake.merge.files_written"] == 3
    assert m["lake.merge.python_stage_executor_s"] == 0.5
    assert m["streaming.replay.python_stage_executor_s"] == 0.5
    # replay [99, 104.5] minus its lake child [100, 104]
    assert m["streaming.replay.self_s"] == 1.5
    assert m["streaming.replicate.spark_jobs"] == 1
    assert m["streaming.replicate.no_job_s"] == 4.0
    assert m["spark.row_python_stages"] == 1
    assert m["spark.jobs"] == 2 and m["spark.unattributed_jobs"] == 0
    assert m["lake.write_amp"] == 2.0  # 10 bytes written over 5 consumed
    assert m["trace.root_cover_ratio"] == pytest.approx(10.5 / 11)


# ------------------------------------------------------ workload oracles

def test_events_in_counts_the_verbatim_duplicates():
    # seqs 0, 17, 34 of [0, 40) are re-emitted
    assert _events_in(0, 40) == 43
    assert _events_in(0, 40) + _events_in(40, 100) == _events_in(0, 100)


def test_shingles_match_char_shingles():
    assert _shingles("abcdef") == {"abcde", "bcdef"}
    assert _shingles("abc") == {"abc"}


def test_expected_kept_drops_copies_of_earlier_survivors():
    corpus = [(1, "the quick brown fox"), (2, "pack my box"),
              (3, "pack my box")]
    batch = [(10, "the quick brown fox"), (11, "sphinx of quartz"),
             (12, "sphinx of quartz")]
    assert expected_kept([corpus, batch]) == [{1, 2}, {11}]


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER


def test_dedup_table_merges_stay_out_of_the_main_merge_metrics():
    spans = [
        Span("pb1", "streaming.dedup_stream", 10.0, 20.0, None, "pb1"),
        Span("pb2", "lake.merge.docs", 12.0, 14.0, "pb1", "pb1"),
        Span("pb3", "lake.merge.index", 15.0, 16.0, "pb1", "pb1"),
    ]
    m = layer_metrics(spans, {}, {}, {}, timed_window=(10.0, 20.0), extra={})
    assert m["lake.merge.calls"] == 0
    # 10 s of stream minus 3 s of its own tables' merges
    assert m["streaming.dedup_stream.self_s"] == 7.0


def test_finish_weighs_each_op_kind_once_and_takes_out_steal():
    ctx = Ctx(spark=None, work="", seed=0, seconds=0, tracer=None)
    cores = len(os.sched_getaffinity(0))
    for kind, cpu, wall in [("a", 1.0, 0.1), ("b", 3.0, 0.3),
                            ("a", 2.0, 0.2), ("b", 2.0, 0.4),
                            ("a", 9.0, 0.9)]:
        ctx.ledger.record(kind, wall, True, cpu_s=cpu)
    # 1 s of every core stolen during c: its own wall is 4.0
    ctx.ledger.record("c", 5.0, True, cpu_s=8.0, steal_s=float(cores))
    e2e = _finish(ctx, 7.0, {"table_disk_mb": 1.5, "lake.live_files": 3})
    # medians: a = 2.0, b = 2.5, c = 8.0 -> geomean
    assert e2e["op_cpu_ms"] == pytest.approx((2.0 * 2.5 * 8.0) ** (1 / 3) * 1e3)
    assert e2e["op_wall_ms"] == pytest.approx((0.2 * 0.35 * 4.0) ** (1 / 3) * 1e3)
    assert e2e["setup_s"] == 7.0 and e2e["table_disk_mb"] == 1.5
    assert ctx.extra == {"lake.live_files": 3}
