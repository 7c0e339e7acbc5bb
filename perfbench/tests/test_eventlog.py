"""Event-log counters roll up task -> stage -> job -> job group (span)."""

import json

from perfbench.eventlog import log_file, totals_by_group


def _write(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _task(stage, run_ms, cpu_ns, shuffle=0, spill=0, records=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Input Metrics": {"Records Read": records}}}


def test_counters_attribute_to_job_groups(tmp_path):
    _write(tmp_path / ".local-1.crc", [])
    _write(tmp_path / "local-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2, 3],
         "Properties": {"spark.jobGroup.id": "s2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        _task(0, 100, 40_000_000, shuffle=500),
        _task(1, 50, 10_000_000, records=30),
        _task(2, 20, 5_000_000, spill=64),
        # stage 3 was skipped: no completion, no tasks
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [5],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 5}},
        _task(5, 7, 1_000_000),
    ])
    path = log_file(str(tmp_path))
    assert path.endswith("/local-1")
    g = totals_by_group(path)
    s1, s2, none = g["s1"], g["s2"], g[""]
    assert (s1.jobs, s1.stages, s1.tasks) == (1, 2, 2)
    assert s1.run_ms == 150 and s1.cpu_ms == 50.0
    assert s1.shuffle_bytes == 500 and s1.records_read == 30
    assert (s2.jobs, s2.stages, s2.tasks, s2.spill_bytes) == (1, 1, 1, 64)
    assert (none.jobs, none.tasks) == (1, 1)
