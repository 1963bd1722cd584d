"""The event-log reader and span fold, on a tiny zstd log cut from a real
local-mode encode + decode (Spark 4, adaptive execution on)."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_v2_tiny")
ENCODE = {"name": "encode", "start_ms": 1792196781700, "end_ms": 1792196790000}
DECODE = {"name": "decode", "start_ms": 1792196792600, "end_ms": 1792196793100}


@pytest.fixture(scope="module")
def log():
    return eventlog.fold_log(eventlog.read_events(LOG))


def test_reads_the_zstd_v2_directory():
    files = eventlog.event_files(os.path.dirname(LOG))
    assert [os.path.basename(f) for f in files] == ["events_1_tiny.zstd"]
    kinds = [e["Event"] for e in eventlog.read_events(LOG)]
    assert kinds[0] == "SparkListenerLogStart"
    assert kinds.count("SparkListenerJobStart") == 8
    assert kinds.count("SparkListenerStageCompleted") == 6


def test_fold_indexes_jobs_stages_and_metrics(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4, 5, 6, 18]
    assert sorted(log.stages) == [0, 2, 3, 4, 6, 23]
    assert log.jobs[0].group == "tiny.encode"
    assert log.jobs[5].exec_id is None
    s4 = log.stages[4]
    assert s4.m("shuffle.write.recordsWritten") == 300
    assert s4.m("executorCpuTime") == 106295602
    assert s4.m("no.such.metric") == 0.0


def test_attribute_by_call_interval(log):
    enc, dec = eventlog.attribute(log, [ENCODE, DECODE])
    assert [j.job_id for j in enc.jobs] == [0, 1, 2, 3, 4, 5, 6]
    assert [s.stage_id for s in enc.stages] == [0, 2, 3, 4, 6]
    assert enc.stages[0].name == "collect at encode_job.py:91"
    assert [j.job_id for j in dec.jobs] == [18]
    # adaptive execution skips a map stage it already ran in the same
    # call: that is not reuse
    assert enc.reused_stages == [] and dec.reused_stages == []
    assert enc.total("output.bytesWritten") == 24105


def test_skipped_stage_from_an_earlier_call_is_reuse(log):
    events = list(eventlog.read_events(LOG)) + [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 99,
            "Submission Time": 1792196795000,
            "Stage IDs": [1],
            "Stage Infos": [{"Stage ID": 1, "RDD Info": [{"RDD ID": 5}]}],
            "Properties": {},
        }
    ]
    later = {"name": "again", "start_ms": 1792196794000, "end_ms": 1792196796000}
    traces = eventlog.attribute(eventlog.fold_log(events), [ENCODE, DECODE, later])
    assert traces[2].reused_stages == [1]


def test_encode_split_phases(log):
    (enc,) = eventlog.attribute(log, [ENCODE])
    split = eventlog.encode_split(enc)
    assert split["stats_scan_s"] == pytest.approx(0.774)  # stage 0
    assert split["shuffle_write_s"] == pytest.approx(0.121)  # stage 4
    assert split["kernel_stage_s"] == pytest.approx(3.084)  # stage 6
    assert split["metadata_s"] == pytest.approx(0.127 + 1.771)  # stages 2, 3
    covered = 0.774 + 0.127 + 1.771 + 0.121 + 3.084
    assert split["driver_self_s"] == pytest.approx(enc.wall_s - covered)


def test_spans_nest_stages_under_calls(log):
    spans = eventlog.spans(eventlog.attribute(log, [ENCODE, DECODE]), "t")
    parents = [s for s in spans if s["parent"] is None]
    assert [p["name"] for p in parents] == ["encode", "decode"]
    children = [s for s in spans if s["parent"] == parents[1]["span"]]
    assert [c["name"] for c in children] == ["save at NativeMethodAccessorImpl.java:0"]


def test_short_site():
    assert eventlog.short_site("collect at /a/b/c.py:12") == "collect at c.py:12"
    assert eventlog.short_site("count at X.java:0") == "count at X.java:0"
