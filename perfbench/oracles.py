"""DuckDB oracle results for the query workloads, computed once per
dataset and kept as digests.

The benchmark's tables never change for a given generator version, so
each oracle's answer is computed by DuckDB once, through
``arkflow_spark.plans.oracle`` (``duckdb_connect``, ``canonicalize``),
and stored as its sorted column names, row count and a SHA-256 of the
canonical rows. A timed Spark result is canonicalized the same way and
must match all three. An entry is recomputed when its oracle SQL text
changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

CACHE_FILE = "oracles.json"


def digest(cols: list[str], rows: list[tuple]) -> dict:
    from arkflow_spark.plans.oracle import canonicalize

    h = hashlib.sha256()
    for row in canonicalize(list(cols), rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"cols": sorted(cols), "rows": len(rows), "sha256": h.hexdigest()}


def _sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def ensure(sf_dir: str, names, oracle_sql: dict[str, str]) -> dict[str, dict]:
    """Digests of the named oracles over ``sf_dir``, computing any that
    are missing or whose SQL changed. Returns {name: entry}."""
    from arkflow_spark.plans.oracle import duckdb_connect

    path = os.path.join(sf_dir, CACHE_FILE)
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    todo = [n for n in names if cache.get(n, {}).get("sql") != _sql_key(oracle_sql[n])]
    if todo:
        con = duckdb_connect(sf_dir)
        try:
            for name in todo:
                t0 = time.perf_counter()
                res = con.execute(oracle_sql[name])
                cols = [d[0] for d in res.description]
                entry = digest(cols, res.fetchall())
                entry["sql"] = _sql_key(oracle_sql[name])
                entry["duckdb_s"] = time.perf_counter() - t0
                cache[name] = entry
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[n] for n in names}


def matches(entry: dict, cols: list[str], rows: list[tuple]) -> bool:
    got = digest(cols, rows)
    return all(got[k] == entry[k] for k in ("cols", "rows", "sha256"))
