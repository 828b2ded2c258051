import pytest

from perfbench import stream_workload as sw

RATE = sw.RATE


def progress(batch_id, start, end, rows, start_ms=0.0):
    return {
        "batchId": batch_id,
        "numInputRows": rows,
        "sources": [{"startOffset": start, "endOffset": end, "latestOffset": end}],
        "_start_ms": start_ms,
    }


class Run:
    def __init__(self):
        self.failures = []

    def fail(self, what):
        self.failures.append(what)


def test_rows_are_attributed_to_batches_by_source_offset():
    prog = [progress(0, None, 0, 0), progress(1, 0, 2, 2 * RATE), progress(2, 2, 3, RATE)]
    t0 = 1_700_000_000.0
    rows = [
        # (n, sv, newest send time in us, highest offset) per output group
        (RATE, 10.5 * RATE, (t0 + 1.2) * 1e6, RATE - 1),
        (RATE, 10.5 * RATE, (t0 + 1.9) * 1e6, 2 * RATE - 1),
        (RATE, 10.5 * RATE, (t0 + 2.9) * 1e6, 3 * RATE - 1),
        (7, 73.5, (t0 + 3.5) * 1e6, 3 * RATE + 6),  # cut short by the stop
    ]
    found = sw.attribute(prog, rows)
    assert found[0] == {"rows": 0, "newest": None}
    assert found[1]["rows"] == 2 * RATE
    assert found[1]["newest"] == pytest.approx(t0 + 1.9)
    assert found[2]["rows"] == RATE
    run = Run()
    sw.check_batches(run, prog, found, rows)
    assert run.failures == []


def test_lost_rows_and_bad_sums_fail_the_batch():
    prog = [progress(1, 0, 1, RATE)]
    rows = [(RATE - 1, 10.5 * (RATE - 1), 0, 5)]
    run = Run()
    sw.check_batches(run, prog, sw.attribute(prog, rows), rows)
    assert len(run.failures) == 1 and "batch 1" in run.failures[0]
    rows = [(RATE, 10.0 * RATE, 0, 5)]
    run = Run()
    sw.check_batches(run, prog, sw.attribute(prog, rows), rows)
    assert len(run.failures) == 1 and "sums to" in run.failures[0]


def test_latency_is_sink_return_minus_newest_send_time():
    measured = [progress(5, 4, 5, RATE), progress(6, 5, 6, RATE)]
    writes = {5: (100.40, 100.75), 6: (101.40, 101.62)}
    found = {5: {"rows": RATE, "newest": 99.999}, 6: {"rows": RATE, "newest": 100.999}}
    assert sw.latencies_ms(measured, writes, found) == pytest.approx([751.0, 621.0])


def test_a_batch_missing_from_the_output_fails_and_has_no_latency():
    measured = [progress(5, 4, 5, RATE), progress(6, 5, 6, RATE)]
    writes = {5: (100.40, 100.75), 6: (101.40, 101.62)}
    rows = [(RATE, 10.5 * RATE, 100.999 * 1e6, 6 * RATE - 1)]  # batch 5 lost
    found = sw.attribute(measured, rows)
    assert found[5] == {"rows": 0, "newest": None}
    assert sw.latencies_ms(measured, writes, found) == pytest.approx([621.0])
    run = Run()
    sw.check_batches(run, measured, found, rows)
    assert len(run.failures) == 1 and "batch 5" in run.failures[0]


def test_backlog_is_latest_offset_minus_the_batch_start():
    assert sw.backlog_s(progress(3, 2, 3, RATE)) == 1.0
    assert sw.backlog_s(progress(0, None, 2, 2 * RATE)) == 2.0
    behind = progress(7, 6, 9, 3 * RATE)
    assert sw.backlog_s(behind) == 3.0


def test_pipeline_key_comes_from_the_seed():
    a, b = sw.pipeline_yaml(1, "/o"), sw.pipeline_yaml(2, "/o")
    assert a != b and "xxhash64(__meta_offset, 1), 65" in a
