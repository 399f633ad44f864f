"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests are pure Python (span arithmetic, event-log folding); the
last one starts Spark on a tiny world and takes about half a minute.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

run._bootstrap()

from spans import Span, covered, fold, parse_label, read_event_log, self_times  # noqa: E402


def _span(sid, start, end, parent=None, name="s"):
    return Span(sid, name, "0", start, end, parent)


def test_covered_merges_overlaps_and_clips_to_the_parent():
    assert covered([(0, 4), (3, 6), (8, 9)], 0, 10) == 7
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_is_duration_minus_children_union():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 0.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),      # overlaps its sibling
        _span(4, 8.0, 9.0, parent=1),
        _span(5, 1.0, 2.0, parent=2),      # grandchild: only its parent shrinks
    ]
    st = self_times(spans)
    assert st[1] == 3.0
    assert st[2] == 3.0
    assert st[3] == 3.0
    assert st[4] == 1.0
    assert st[5] == 1.0
    # a tree of sequential children gives back exactly the root's wall
    seq = [_span(1, 0, 6), _span(2, 0, 2, 1), _span(3, 2, 5, 1), _span(4, 5, 6, 1)]
    assert sum(self_times(seq).values()) == 6


def test_parse_label():
    assert parse_label("fused|c=2|b=7") == ("fused", 2, 7)
    assert parse_label("pipeline.loop|c=0") == ("pipeline.loop", 0, None)
    assert parse_label(None) is None
    assert parse_label("parquet at <unknown>:0") is None


def _task(stage, launch, finish, run_ms, write=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Result Size": 1024 * 1024,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        },
    }


def test_event_log_folds_into_labelled_spans(tmp_path):
    def job(jid, stages, label):
        props = {"spark.job.description": label} if label else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": 1000 * jid, "Stage IDs": stages, "Properties": props}

    def submitted(sid, label):
        props = {"spark.job.description": label} if label else {}
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": sid}, "Properties": props}

    events = [
        {"Event": "SparkListenerApplicationStart"},
        job(0, [0], "fused|c=1|b=3"), submitted(0, "fused|c=1|b=3"),
        _task(0, 0, 2000, 1500), _task(0, 0, 1000, 800), _task(0, 0, 1000, 700),
        job(1, [1, 2], "clustering|c=1|b=3"), submitted(1, "clustering|c=1|b=3"),
        submitted(2, "clustering|c=1|b=3"),
        _task(1, 0, 500, 400, write=2 * 1024 * 1024), _task(2, 0, 300, 200),
        job(2, [3], None), submitted(3, None), _task(3, 0, 100, 90),
    ]
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = read_event_log(str(p))
    assert [j.label for j in jobs] == ["fused|c=1|b=3", "clustering|c=1|b=3", None]
    folds = fold(jobs, stages)
    assert set(folds) == {("fused", 1, 3), ("clustering", 1, 3)}
    fu, cl = folds[("fused", 1, 3)], folds[("clustering", 1, 3)]
    assert (fu.jobs, fu.tasks) == (1, 3)
    assert abs(fu.run_s - 3.0) < 1e-9 and abs(fu.cpu_s - 3.0) < 1e-9
    assert sorted(fu.task_s) == [1.0, 1.0, 2.0]
    assert abs(fu.result_mb - 3.0) < 1e-9
    assert (cl.jobs, cl.tasks) == (1, 2)
    assert abs(cl.run_s - 0.6) < 1e-9
    assert abs(cl.shuffle_write_mb - 2.0) < 1e-9


def test_traced_and_untraced_calls_emit_identical_triples():
    """One tiny world, the same batch group run untraced then traced in one
    session: both pass the oracle gate with the same digest, and the traced
    call's event log folds into its spans with every job labelled."""
    from harness import Bench, _stop_jvm
    from worlds import Shape

    tiny = Shape(n_entities=2000, dim=32, nil_frac=0.05, n_convs=60, hot_turns=12,
                 batches_per_call=2, calls=1, call_s=1.0, warm_batches=0,
                 driver_path=True)
    bench = Bench("selftest", 7, 0, True, os.path.join(run.WORK, "selftest"), shape=tiny)
    spark, t_df, kb_df, index = bench.open_session()
    try:
        app_id = spark.sparkContext.applicationId
        plain = bench.timed_call(spark, t_df, kb_df, index, traced=False)
        traced = bench.timed_call(spark, t_df, kb_df, index, traced=True)
    finally:
        spark.stop()
    try:
        bench._fold_session(app_id, bench.calls)
    finally:
        _stop_jvm()
    assert plain.problems == [] and traced.problems == []
    assert plain.f1 == traced.f1 == 1.0
    assert plain.digest == traced.digest
    assert plain.ids == traced.ids == bench.world.groups[0]
    layers = traced.layers
    assert layers["spark.unlabelled_jobs"] == 0
    assert layers["pipeline.unattributed_share"] <= 0.05
    assert layers["clustering.driver_path_share"] == 1.0
    assert layers["fused.executor_s"] > 0
    assert layers["pipeline.jobs_per_batch"] > 0
