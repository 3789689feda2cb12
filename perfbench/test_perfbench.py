"""Tests for the benchmark's own instruments.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark test launches its own local session with an event log, so run
this file in a process that has not started Spark yet.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, profile_keys, tracing, workloads  # noqa: E402


def test_covered_merges_overlaps_and_ignores_empty_intervals():
    assert tracing.covered([(0, 2), (1, 3), (5, 6), (7, 7)]) == 4
    assert tracing.covered([]) == 0


def test_self_time_subtracts_children_and_pool_threads_join_the_op():
    tracer = tracing.Tracer()

    def pooled() -> None:
        with tracer.span("pooled"):
            time.sleep(0.01)

    with tracer.span("op") as op:
        with tracer.span("child"):
            time.sleep(0.02)
        with ThreadPoolExecutor(1) as pool:
            pool.submit(pooled).result()
    spans = {s.name: s for s in tracer.spans}
    assert spans["child"].parent == op.id
    assert spans["pooled"].parent == op.id and spans["pooled"].op == op.id
    covered = spans["child"].duration + spans["pooled"].duration
    assert tracer.self_times()[op.id] == pytest.approx(op.duration - covered)


def test_event_log_reader_sums_task_metrics_per_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 30, "Executor CPU Time": 2e7, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
            "Input Metrics": {"Bytes Read": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 20, "Executor CPU Time": 1e7, "JVM GC Time": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    (job,) = tracing.read_event_log(str(log))
    assert (job.submitted, job.completed) == (1.0, 1.5)
    assert (job.tasks, job.stages_run) == (2, 1)
    assert job.task_run_s == pytest.approx(0.05)
    assert job.task_cpu_s == pytest.approx(0.03)
    assert (job.gc_s, job.shuffle_write_bytes, job.spill_bytes, job.input_bytes) == (
        0.005, 100, 3, 7,
    )


def test_generated_fixture_is_deterministic():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert a.keys() == b.keys()
    assert all(a[name].equals(b[name]) for name in a)
    assert a["lineitem"].num_rows == 6000


def test_pass_order_depends_only_on_the_seed():
    import random

    first = workloads.pass_ops("queries", random.Random(7))
    assert first == workloads.pass_ops("queries", random.Random(7))
    assert first != workloads.pass_ops("queries", random.Random(8))
    assert first[: len(workloads.MEMO_BUILDS)] == workloads.MEMO_BUILDS
    assert sorted(first) == sorted(
        workloads.MEMO_BUILDS + workloads.QUERY_INTERACTIVE + workloads.QUERY_ITERATIVE
    )


def test_interactive_keys_are_the_profile_rule_s_choice():
    with open(profile_keys.PROFILE) as f:
        profile = json.load(f)
    assert workloads.QUERY_INTERACTIVE == profile_keys.select(profile)
    assert len(profile_keys.candidates(profile)) == 152


def test_jobs_from_a_pool_thread_are_charged_to_the_open_span(tmp_path):
    """pipeline.collect submits work from a ThreadPoolExecutor whose threads
    do not inherit the job group; attribution by submission time must
    still charge exactly the action's one job, one stage and three tasks
    to the span that was open."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is not None:
        pytest.skip("a Spark session is already running in this process")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .getOrCreate()
    )
    tracer = tracing.Tracer()
    try:
        spark.range(10).count()  # a job outside every span
        with tracer.span("op") as op:
            with ThreadPoolExecutor(1) as pool:
                n = pool.submit(
                    lambda: spark.sparkContext.parallelize(range(30), 3).count()
                ).result()
    finally:
        spark.stop()
    assert n == 30
    jobs = tracing.read_event_log(tracing.event_log_file(str(log_dir)))
    charged = [j for j in jobs if tracer.innermost(j.submitted + 0.001) is op]
    assert [(j.stages_run, j.tasks) for j in charged] == [(1, 3)]
    assert len(jobs) > len(charged)
