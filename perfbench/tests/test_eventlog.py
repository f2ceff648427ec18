import json

from pytest import approx

from eventlog import covered, fold, read_events


def _job_start(jid, t_ms, stages, tags):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": {"spark.job.tags": ",".join(tags)}}


def _task_end(sid, task_type, run_ms, gc_ms, rows, reason="Success"):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Type": task_type,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6 // 2,
                             "JVM GC Time": gc_ms, "Disk Bytes Spilled": 0,
                             "Input Metrics": {"Records Read": rows},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                             "Shuffle Read Metrics": {"Local Bytes Read": 30, "Remote Bytes Read": 20}}}


def _stage_done(sid, start_ms, end_ms):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Submission Time": start_ms, "Completion Time": end_ms}}


def _block(block, size):
    return {"Event": "SparkListenerBlockUpdated",
            "Block Updated Info": {"Block ID": block, "Memory Size": size, "Disk Size": 0}}


EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    # job 0: outer span only; a map stage and a result stage
    _job_start(0, 1000, [0, 1], ["pb.validate.0", "spark-session-x"]),
    _task_end(0, "ShuffleMapTask", 400, 10, 500),
    _task_end(0, "ShuffleMapTask", 600, 0, 500),
    _stage_done(0, 1000, 1600),
    _block("rdd_7_0", 3000),
    _block("broadcast_1_piece0", 99999),
    _task_end(1, "ResultTask", 100, 0, 0, reason="ExceptionFailure"),
    _task_end(1, "ResultTask", 100, 0, 0),
    _stage_done(1, 1600, 1800),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
    # job 1: nested in an append span; stage 1 is reused and skipped
    _job_start(1, 2000, [1, 2], ["pb.validate.0", "pb.tables.append.runs.1"]),
    _block("rdd_7_1", 2000),
    _task_end(2, "ResultTask", 50, 5, 0),
    _stage_done(2, 2000, 2300),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300},
    {"Event": "SparkListenerUnpersistRDD", "RDD ID": 7},
    # job 2: untagged
    _job_start(2, 3000, [3], ["spark-session-x"]),
    _task_end(3, "ResultTask", 999, 0, 7),
    _stage_done(3, 3000, 3100),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3100},
]


def test_fold_hand_written_log(tmp_path):
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    spans = fold(read_events(tmp_path))
    assert set(spans) == {"pb.validate.0", "pb.tables.append.runs.1"}

    outer = spans["pb.validate.0"]
    assert (outer.jobs, outer.stages, outer.tasks, outer.failed_tasks) == (2, 3, 5, 1)
    assert (outer.run_s, outer.cpu_s, outer.gc_s) == approx((1.25, 0.625, 0.015))
    assert outer.input_rows == 1000
    assert outer.shuffle_write_bytes == 500
    assert outer.shuffle_read_bytes == 250
    assert outer.cache_peak_bytes == 5000  # rdd blocks only, both cached
    assert outer.job_intervals == [(1.0, 1.8), (2.0, 2.3)]
    assert outer.map_stage_intervals == [(1.0, 1.6)]

    inner = spans["pb.tables.append.runs.1"]
    assert (inner.jobs, inner.stages, inner.tasks) == (1, 1, 1)
    assert inner.job_intervals == [(2.0, 2.3)]
    assert inner.cache_peak_bytes == 5000


def test_unpersist_clears_cache():
    events = EVENTS + [
        _job_start(3, 4000, [4], ["pb.validate.9"]),
        _block("rdd_8_0", 10),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 4100},
    ]
    assert fold(events)["pb.validate.9"].cache_peak_bytes == 10


def test_covered_is_clipped_union():
    assert covered([], 0.0, 5.0) == 0.0
    assert covered([(1, 3), (2, 4), (6, 9)], 0.0, 7.0) == 4.0
    assert covered([(0, 10)], 2.0, 5.0) == 3.0
