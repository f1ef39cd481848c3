import json

import eventlog


def _job(job_id, stages, group=None, span=None):
    props = {}
    if group is not None:
        props[eventlog.GROUP_KEY] = group
    if span is not None:
        props[eventlog.SPAN_KEY] = span
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms=10, cpu_ns=5_000_000, accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": u} for n, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 2,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 300,
                                     "Fetch Wait Time": 1},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 700},
        },
    }


def test_tasks_go_to_the_job_group_and_jobs_to_the_span():
    lines = [json.dumps(e) for e in [
        _job(0, [0], group="m:1:q:build", span="3"),
        _task(0),
        _task(0, accums=[("scan time", "40"), ("data sent to Python workers", 1024)]),
        _job(1, [1, 2], group="m:1:q:run"),
        _task(1),
        _task(2, accums=[("time to run Python workers", 25), ("unrelated", 9)]),
        _job(2, [3]),
        _task(3),
        {"Event": "SparkListenerApplicationEnd"},
    ]]
    log = eventlog.parse(lines)

    build = log.by_group["m:1:q:build"]
    assert (build.jobs, build.tasks, build.run_ms, build.cpu_ns) == (1, 2, 20, 10_000_000)
    assert (build.scan_ms, build.py_in_bytes, build.gc_ms) == (40, 1024, 4)
    assert (build.shuffle_read_bytes, build.shuffle_write_bytes, build.fetch_wait_ms) == (600, 1400, 2)

    run = log.by_group["m:1:q:run"]
    assert (run.jobs, run.tasks, run.py_run_ms, run.scan_ms) == (1, 2, 25, 0)
    assert log.by_group[""].jobs == 1  # a job without a group
    assert log.jobs_by_span == {"3": 1}


def test_a_resubmitted_stage_belongs_to_the_job_that_submitted_it():
    # a stage shared by two jobs (a reused shuffle) runs under the second
    lines = [json.dumps(e) for e in [
        _job(0, [0], group="a"),
        _job(1, [0, 1], group="b"),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {eventlog.GROUP_KEY: "b"}},
        _task(0),
    ]]
    log = eventlog.parse(lines)
    assert log.by_group["b"].tasks == 1
    assert log.by_group["a"].tasks == 0
