import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import oracles

SQL = {"low_regions": "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3"}


@pytest.fixture
def sf_dir(tmp_path):
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1, 2, 3], pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE"],
            }
        ),
        tmp_path / "region.parquet",
    )
    return str(tmp_path)


def test_result_matches_oracle_in_any_row_and_column_order(sf_dir):
    entry = oracles.ensure(sf_dir, ["low_regions"], SQL)["low_regions"]
    assert entry["rows"] == 3
    rows = [("ASIA", 2), ("AFRICA", 0), ("AMERICA", 1)]
    assert oracles.matches(entry, ["r_name", "r_regionkey"], rows)


def test_mismatches_are_detected(sf_dir):
    entry = oracles.ensure(sf_dir, ["low_regions"], SQL)["low_regions"]
    good = [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")]
    cols = ["r_regionkey", "r_name"]
    assert oracles.matches(entry, cols, good)
    assert not oracles.matches(entry, cols, good[:2])  # a row missing
    assert not oracles.matches(entry, cols, good[:2] + [(2, "ASIA ")])  # a value
    assert not oracles.matches(entry, ["r_regionkey", "name"], good)  # a column


def test_cache_is_reused_and_refreshed_when_sql_changes(sf_dir):
    oracles.ensure(sf_dir, ["low_regions"], SQL)
    path = os.path.join(sf_dir, oracles.CACHE_FILE)
    with open(path) as fh:
        first = json.load(fh)["low_regions"]
    again = oracles.ensure(sf_dir, ["low_regions"], SQL)["low_regions"]
    assert again == first  # not recomputed
    changed = {"low_regions": SQL["low_regions"].replace("< 3", "< 2")}
    entry = oracles.ensure(sf_dir, ["low_regions"], changed)["low_regions"]
    assert entry["rows"] == 2 and entry["sql"] != first["sql"]
