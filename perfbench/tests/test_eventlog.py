"""The event-log reader on a small recorded log: 600 pages, one
``layer:segment`` job (the segment stage alone) and one
``layer:extract`` action (segment + classify + assemble's shuffle),
plus one untagged schema-inference job."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "events_segment_extract.jsonl")


@pytest.fixture(scope="module")
def layers():
    return eventlog.layers(eventlog.read_events(LOG))


def test_untagged_jobs_are_ignored(layers):
    assert set(layers) == {"segment", "extract"}


def test_segment_layer(layers):
    seg = layers["segment"]
    assert (seg.jobs, seg.stages, seg.tasks) == (1, 1, 3)
    assert seg.job_s == pytest.approx(2.525)
    assert seg.busy_s == pytest.approx(7.186)
    assert seg.gc_s == pytest.approx(0.096)
    assert seg.input_records == 600
    assert seg.files_read_bytes == 611972
    assert seg.python_rows_out == 9785
    assert seg.bytes_to_python == 1137144
    assert seg.bytes_from_python == 1930728
    # start + initialize + run, summed over the stage's tasks
    assert seg.python_worker_s == pytest.approx(3.690 + 2.241 + 6.284)
    assert seg.shuffle_stages == 0 and seg.shuffle_write_bytes == 0
    assert seg.shuffle_read_busy_s == 0


def test_extract_layer_spans_both_adaptive_jobs(layers):
    ex = layers["extract"]
    assert (ex.jobs, ex.stages, ex.tasks) == (2, 2, 4)
    # the two jobs' spans, not the gap between them
    assert ex.job_s == pytest.approx(0.899 + 0.229)
    assert ex.busy_s == pytest.approx(2.201 + 0.130)
    assert ex.shuffle_stages == 1
    assert ex.shuffle_write_bytes == ex.shuffle_read_bytes == 376057
    assert ex.shuffle_write_records == ex.shuffle_read_records == 600
    assert ex.fetch_wait_s == 0 and ex.spill_bytes == 0
    assert ex.shuffle_write_s == pytest.approx(0.082908519)
    # only the post-exchange stage reads shuffle data
    assert ex.shuffle_read_busy_s == pytest.approx(0.130)
    # the re-planned MapInPandas node's ids resolve through the
    # adaptive-update plan
    assert ex.python_rows_out == 9785


def test_reads_a_rolling_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(LOG).read().splitlines()
    (d / "events_2_local-1").write_text("\n".join(lines[12:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:12]) + "\n")
    got = eventlog.layers(eventlog.read_events(str(tmp_path)))
    assert got["extract"].busy_s == pytest.approx(2.331)
