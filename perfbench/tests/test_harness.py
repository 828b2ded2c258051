import json

from perfbench import harness


def store(tmp_path, name, trace=0, **fields):
    rec = {
        "workload": "query_short",
        "seed": 3,
        "seconds": 12,
        "cores": 4,
        "code_id": "a",
        "end_to_end": {"latency_ms": 100.0},
    }
    rec.update(fields)
    path = tmp_path / f"{rec['workload']}-seed{rec['seed']}-trace{trace}-{name}.json"
    path.write_text(json.dumps(rec))


def test_untraced_reference_matches_code_and_length(tmp_path, monkeypatch):
    monkeypatch.setattr(harness, "RESULTS_DIR", str(tmp_path))
    store(tmp_path, "1")
    store(tmp_path, "2", end_to_end={"latency_ms": 120.0})
    store(tmp_path, "3", code_id="b", end_to_end={"latency_ms": 999.0})
    store(tmp_path, "4", seconds=30, end_to_end={"latency_ms": 999.0})
    store(tmp_path, "5", seed=8, end_to_end={"latency_ms": 110.0})
    store(tmp_path, "6", trace=1, end_to_end={"latency_ms": 999.0})
    store(tmp_path, "7", workload="stream_ingest", end_to_end={"latency_ms": 999.0})
    traced = {"workload": "query_short", "seed": 3, "seconds": 12, "cores": 4}
    assert harness.untraced_history(dict(traced, code_id="a"), "latency_ms") == [
        100.0,
        120.0,
        110.0,
    ]
    assert harness.untraced_history(dict(traced, code_id="c"), "latency_ms") == []


def test_code_id_follows_the_sources():
    a = harness.code_id()
    assert a == harness.code_id() and len(a) == 16
