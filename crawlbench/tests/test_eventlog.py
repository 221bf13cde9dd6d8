"""Metric extraction from a canned Spark event log, and job-site tagging."""

import json
import sys

import pytest

from crawlbench.trace import TAG_PROP, fold_event_log, site_tag

GROUP = "g"


def _job_start(job, stages, start, tag=None, group=GROUP):
    props = {"spark.jobGroup.id": group}
    if tag is not None:
        props[TAG_PROP] = tag
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": start, "Stage IDs": stages, "Properties": props}


def _job_end(job, end):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": end}


def _task(stage, run_ms, gc_ms=0, shuffle=0, spill=0, acc=None):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": k, "Update": v} for k, v in (acc or {}).items()]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        },
    }


CANNED = [
    {"Event": "SparkListenerApplicationStart"},
    _job_start(0, [0], 1_000, "fetch_parse|plans.crawl:CrawlEngine._run_round"),
    _task(0, 400, gc_ms=20, acc={"time to run Python workers": "300",
                                 "data sent to Python workers": "1000",
                                 "data returned from Python workers": "800"}),
    _task(0, 600, acc={"time to run Python workers": "200",
                       "data sent to Python workers": "500"}),
    _job_end(0, 2_000),
    _job_start(1, [1, 2], 2_500, "rank|operators.ranking:with_global_rank"),
    _task(1, 250, shuffle=4096),
    _task(2, 50, spill=10),
    _job_end(1, 3_000),
    # launched outside any timed phase: folds into "untimed"
    _job_start(2, [3], 3_500, "untimed|operators.politeness:schedule"),
    _task(3, 100),
    _job_end(2, 3_600),
    # another job group: ignored entirely
    _job_start(3, [4], 1_000, "rank|operators.ranking:with_global_rank",
               group="other"),
    _task(4, 9_999),
    _job_end(3, 9_000),
]


@pytest.fixture
def folded():
    lines = [json.dumps(ev) for ev in CANNED]
    return fold_event_log(lines, GROUP, (500, 4_000))


def test_phases_fold_task_metrics(folded):
    assert folded["fetch_parse.executor_run_s"] == pytest.approx(1.0)
    assert folded["rank.executor_run_s"] == pytest.approx(0.3)
    assert folded["rank.shuffle_write_bytes"] == 4096
    assert folded["untimed.executor_run_s"] == pytest.approx(0.1)
    assert folded["dedupe.executor_run_s"] == 0
    # the other group's task is not counted
    assert folded["crawl.gc_s"] == pytest.approx(0.02)
    assert folded["crawl.spill_bytes"] == 10


def test_python_udf_metrics_come_from_the_parse_phase(folded):
    assert folded["parse.python_udf_s"] == pytest.approx(0.5)
    assert folded["parse.arrow_bytes_to_python"] == 1500
    assert folded["parse.arrow_bytes_from_python"] == 800


def test_jobs_count_per_layer_and_group(folded):
    assert folded["crawl.jobs"] == 3
    assert folded["jobs.plans.crawl"] == 1
    assert folded["jobs.operators.ranking"] == 1
    assert folded["jobs.operators.politeness"] == 1
    assert folded["jobs.operators.cuckoo"] == 0


def test_driver_idle_is_the_window_minus_busy_job_time(folded):
    # window 500..4000 ms; jobs busy 1000-2000, 2500-3000, 3500-3600
    assert folded["crawl.driver_idle_s"] == pytest.approx((3_500 - 1_600) / 1e3)


def test_site_tag_names_function_and_enclosing_phase():
    g = {"__name__": "spider_spark.plans.crawl"}
    exec(
        "def _timed(phase, fn):\n"
        "    return fn()\n"
        "def run_round(probe):\n"
        "    return _timed('dedupe', lambda: probe())\n"
        "def untimed(probe):\n"
        "    return probe()\n",
        g,
    )
    probe = lambda: site_tag(sys._getframe(1))  # noqa: E731
    assert g["run_round"](probe) == "dedupe|plans.crawl:run_round.<locals>.<lambda>"
    assert g["untimed"](probe) == "untimed|plans.crawl:untimed"
    assert site_tag(sys._getframe()) == "untimed|-"
