from perfbench import layerdiff


def test_each_ratio_is_printed_with_its_base():
    base = {"workload": "w", "end_to_end": {"cold_s": 2.0}, "per_layer": {"a.x": 0.0, "b.y": 4.0}}
    new = {"workload": "w", "end_to_end": {"cold_s": 3.0}, "per_layer": {"b.y": 1.0, "c.z": 5.0}}
    lines = layerdiff.render(base, new).splitlines()
    row = {l.split()[1]: l.split()[2:] for l in lines[2:]}
    assert row["cold_s"] == ["2", "3", "1.500"]
    assert row["b.y"] == ["4", "1", "0.250"]
    assert row["a.x"] == ["0", "-", "-"]  # no ratio on a zero base or a missing side
    assert row["c.z"] == ["-", "5", "-"]
    assert "warning" not in lines[0]
