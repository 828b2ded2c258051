"""Property-based SQL conformance fuzz: random predicates and aggregations
executed by BOTH Catalyst and DuckDB over the same parquet, results
compared exactly.

The reference ships no conformance corpus (SURVEY.md §5); this is the
"add what the reference lacks" piece — randomized evidence that the
relational surface behaves identically across engines, beyond the 90+
hand-written oracle queries.

Determinism rules mirror queries/base.py: counts are exact; sums go
through DECIMAL(18,6); constants are drawn from the columns' real value
domains so predicates exercise both selective and vacuous paths.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


SF_DIR = "/root/testdata/sf0.001"

NUM_COLS = {
    "l_quantity": (1, 50),
    "l_extendedprice": (900.0, 105000.0),
    "l_discount": (0.0, 0.1),
    "l_tax": (0.0, 0.08),
    "l_suppkey": (1, 100),
    "l_partkey": (1, 2000),
}
STR_COLS = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
}


def _num_cmp():
    def render(col, op, frac):
        lo, hi = NUM_COLS[col]
        # 12 significant digits: beyond ~16 the engines' DECIMAL->DOUBLE
        # literal conversions diverge (DuckDB routes the decimal mantissa
        # through int64 > 2^53 and rounds 0.09999999999999999 to 0.1;
        # Spark converts correctly-rounded) — found by this fuzzer
        v = round(lo + (hi - lo) * frac, 12)
        return f"({col} {op} {v!r})"

    return st.builds(
        render,
        st.sampled_from(sorted(NUM_COLS)),
        st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]),
        st.floats(0, 1, allow_nan=False),
    )


def _str_cmp():
    def render(col, op, idx):
        vals = STR_COLS[col]
        if op == "IN":
            chosen = vals[: 1 + idx % len(vals)]
            inner = ", ".join(f"'{v}'" for v in chosen)
            return f"({col} IN ({inner}))"
        return f"({col} {op} '{vals[idx % len(vals)]}')"

    return st.builds(
        render,
        st.sampled_from(sorted(STR_COLS)),
        st.sampled_from(["=", "<>", "IN"]),
        st.integers(0, 5),
    )


_leaf = st.one_of(_num_cmp(), _str_cmp())


def _combine(children):
    return st.one_of(
        st.builds(lambda a, b: f"({a} AND {b})", children, children),
        st.builds(lambda a, b: f"({a} OR {b})", children, children),
        st.builds(lambda a: f"(NOT {a})", children),
    )


_predicate = st.recursive(_leaf, _combine, max_leaves=6)


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    # materialize ONE canonical copy with a unique rid: the synthetic
    # lineitem has duplicate (l_orderkey, l_linenumber) pairs, so ROWS
    # frames need rid as a deterministic total order both engines share
    src = str(tmp_path_factory.mktemp("fuzz") / "li.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT *, row_number() OVER () AS rid "
        f"FROM read_parquet('{SF_DIR}/lineitem.parquet')) TO '{src}' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{src}')")
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/orders.parquet')"
    )
    df = spark.read.parquet(src)
    df.createOrReplaceTempView("li")
    df.persist().count()
    odf = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    odf.createOrReplaceTempView("orders")
    yield spark, con
    df.unpersist()
    con.close()


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate)
def test_fuzz_predicate_counts_match(engines, pred):
    spark, con = engines
    sql = f"SELECT COUNT(*) AS n FROM li WHERE {pred}"
    n_spark = spark.sql(sql).collect()[0]["n"]
    n_duck = con.execute(sql).fetchone()[0]
    assert n_spark == n_duck, f"count mismatch for {pred}"


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=_predicate,
    group=st.sampled_from(sorted(STR_COLS)),
    val=st.sampled_from(sorted(NUM_COLS)),
)
def test_fuzz_filtered_aggregation_matches(engines, pred, group, val):
    from arkflow_spark.plans.oracle import canonicalize

    spark, con = engines
    sql = (
        f"SELECT {group} AS g, COUNT(*) AS n, "
        f"CAST(SUM(CAST({val} AS DECIMAL(18,6))) AS DOUBLE) AS s "
        f"FROM li WHERE {pred} GROUP BY {group}"
    )
    s_rows = [tuple(r) for r in spark.sql(sql).collect()]
    d_rows = con.execute(sql).fetchall()
    assert canonicalize(["g", "n", "s"], s_rows) == canonicalize(
        ["g", "n", "s"], d_rows
    ), f"aggregation mismatch for {pred} group={group} val={val}"


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    part=st.sampled_from(sorted(STR_COLS)),
    val=st.sampled_from(sorted(NUM_COLS)),
    prec=st.integers(0, 4),
    foll=st.integers(0, 4),
    fn=st.sampled_from(["COUNT", "SUM", "MIN", "MAX"]),
)
def test_fuzz_window_frames_match(engines, part, val, prec, foll, fn):
    """Random ROWS frames over a deterministic total order: both engines
    must agree on COUNT/SUM/MIN/MAX for every (partition, frame) draw.
    Frame-sensitive SUM goes through decimal for bit-equality; rid (added
    by the fixture) is unique so frames are well-defined."""
    from arkflow_spark.plans.oracle import canonicalize

    spark, con = engines
    arg = f"CAST({val} AS DECIMAL(18,6))" if fn == "SUM" else val
    out = f"CAST({fn}({arg}) OVER w AS DOUBLE)" if fn == "SUM" else f"{fn}({arg}) OVER w"
    sql = (
        f"SELECT rid, {out} AS x FROM li "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY rid "
        f"ROWS BETWEEN {prec} PRECEDING AND {foll} FOLLOWING)"
    )
    s_rows = [tuple(r) for r in spark.sql(sql).collect()]
    d_rows = con.execute(sql).fetchall()
    cols = ["rid", "x"]
    assert canonicalize(cols, s_rows) == canonicalize(cols, d_rows), (
        f"window mismatch: {fn}({val}) part={part} rows {prec}p/{foll}f"
    )


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=_predicate,
    jtype=st.sampled_from(["JOIN", "LEFT JOIN", "SEMI", "ANTI"]),
)
def test_fuzz_join_counts_match(engines, pred, jtype):
    """Random join shapes (inner/left/semi/anti) between the filtered fact
    and its order keys: per-shape row counts must match across engines.
    Exercises join + filter interaction (pushdown through joins) that the
    single-table fuzzes cannot."""
    spark, con = engines
    if jtype == "SEMI":
        sql = (
            f"SELECT COUNT(*) AS n FROM orders o WHERE EXISTS "
            f"(SELECT 1 FROM li l WHERE l.l_orderkey = o.o_orderkey AND {pred})"
        )
    elif jtype == "ANTI":
        sql = (
            f"SELECT COUNT(*) AS n FROM orders o WHERE NOT EXISTS "
            f"(SELECT 1 FROM li l WHERE l.l_orderkey = o.o_orderkey AND {pred})"
        )
    else:
        sql = (
            f"SELECT COUNT(*) AS n FROM orders o {jtype} "
            f"(SELECT * FROM li WHERE {pred}) l ON l.l_orderkey = o.o_orderkey"
        )
    n_spark = spark.sql(sql).collect()[0]["n"]
    n_duck = con.execute(sql).fetchone()[0]
    assert n_spark == n_duck, f"join count mismatch: {jtype} {pred}"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_fuzz_asof_join_matches_duckdb(engines, data):
    """functions.asof_join (union + ordered-window construction) must agree
    row-for-row with DuckDB's native ASOF LEFT JOIN on random trades/quotes
    tables — random keys, random int64 event times (unique per right key,
    so the backward-inclusive match is well-defined in both engines)."""
    from arkflow_spark.functions import asof_join

    spark, con = engines
    keys = ["a", "b", "c"]
    n_left = data.draw(st.integers(1, 25))
    left_rows = [
        (
            i,
            data.draw(st.sampled_from(keys)),
            data.draw(st.integers(0, 1000)),
        )
        for i in range(n_left)
    ]
    right_ts = data.draw(
        st.dictionaries(
            st.tuples(st.sampled_from(keys), st.integers(0, 1000)),
            st.integers(-100, 100),
            min_size=1,
            max_size=40,
        )
    )
    right_rows = [(k, t, v) for (k, t), v in sorted(right_ts.items())]

    ldf = spark.createDataFrame(left_rows, "id int, k string, ts long")
    rdf = spark.createDataFrame(right_rows, "k string, ts long, val int")
    got = {
        (r["id"], r["val"])
        for r in asof_join(ldf, rdf, on="ts", by="k").collect()
    }

    con.execute("CREATE OR REPLACE TABLE fz_l (id int, k text, ts bigint)")
    con.execute("CREATE OR REPLACE TABLE fz_r (k text, ts bigint, val int)")
    con.executemany("INSERT INTO fz_l VALUES (?, ?, ?)", left_rows)
    con.executemany("INSERT INTO fz_r VALUES (?, ?, ?)", right_rows)
    want = set(
        con.execute(
            "SELECT l.id, r.val FROM fz_l l ASOF LEFT JOIN fz_r r"
            " ON l.k = r.k AND l.ts >= r.ts"
        ).fetchall()
    )
    assert got == want, f"asof mismatch: left={left_rows} right={right_rows}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_fuzz_session_windows_match_duckdb(engines, data):
    """session_window(gap) over random per-key integer-second event sets
    must produce exactly the gaps-and-islands sessions DuckDB derives
    (same construction as the events_session_window oracle, randomized:
    random gaps exercise merge/split boundaries the fixed corpus misses)."""
    spark, con = engines
    gap = data.draw(st.integers(2, 30))
    n = data.draw(st.integers(1, 40))
    rows = sorted(
        {
            (
                data.draw(st.sampled_from(["u1", "u2"])),
                data.draw(st.integers(0, 300)),
            )
            for _ in range(n)
        }
    )
    sdf = spark.createDataFrame(rows, "k string, sec long").select(
        "k", F_ts("sec").alias("ts")
    )
    got = sorted(
        (
            r["k"],
            r["session_window"]["start"].timestamp(),
            r["session_window"]["end"].timestamp(),
            r["n"],
        )
        for r in sdf.groupBy(
            __import__("pyspark.sql.functions", fromlist=["x"]).session_window(
                "ts", f"{gap} seconds"
            ),
            "k",
        )
        .agg(__import__("pyspark.sql.functions", fromlist=["x"]).count("*").alias("n"))
        .collect()
    )

    con.execute("CREATE OR REPLACE TABLE fz_s (k text, sec bigint)")
    con.executemany("INSERT INTO fz_s VALUES (?, ?)", rows)
    want = sorted(
        con.execute(
            f"""
            WITH o AS (
              SELECT k, sec, lag(sec) OVER (PARTITION BY k ORDER BY sec) AS p
              FROM fz_s
            ), m AS (
              SELECT *, CASE WHEN p IS NULL OR sec - p > {gap}
                             THEN 1 ELSE 0 END AS ns FROM o
            ), s AS (
              SELECT *, SUM(ns) OVER (PARTITION BY k ORDER BY sec
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM m
            )
            SELECT k, MIN(sec) * 1.0 AS st, (MAX(sec) + {gap}) * 1.0 AS en,
                   COUNT(*) AS n
            FROM s GROUP BY k, sid
            """
        ).fetchall()
    )
    assert got == want, f"sessions mismatch gap={gap} rows={rows}"


def F_ts(col):
    from pyspark.sql import functions as F

    return F.timestamp_seconds(F.col(col))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    stride_s=st.sampled_from([1, 7, 13, 60, 300, 900, 3600, 7200]),
    origin_off=st.integers(-7200, 7200),
    secs=st.lists(st.integers(-86400, 86400), min_size=1, max_size=30),
)
def test_fuzz_date_bin_matches_time_bucket(engines, stride_s, origin_off, secs):
    """functions.date_bin (long-microsecond floor arithmetic) must equal
    DuckDB time_bucket for random strides, shifted origins, and pre-origin
    timestamps — the negative-delta floor is the easy-to-get-wrong path."""
    from pyspark.sql import functions as F

    from arkflow_spark.functions import date_bin

    spark, con = engines
    origin = f"1970-01-01 00:00:00"
    sdf = spark.createDataFrame([(s,) for s in set(secs)], "sec long").select(
        F.timestamp_seconds((F.col("sec") + origin_off)).alias("ts")
    )
    got = sorted(
        r["b"].timestamp()
        for r in sdf.select(
            date_bin(f"{stride_s}s", F.col("ts"), origin).alias("b")
        ).collect()
    )
    con.execute("CREATE OR REPLACE TABLE fz_t (sec bigint)")
    con.executemany("INSERT INTO fz_t VALUES (?)", [(s,) for s in set(secs)])
    want = sorted(
        r[0]
        for r in con.execute(
            f"""
            SELECT epoch(time_bucket(INTERVAL {stride_s} SECOND,
                         to_timestamp(sec + {origin_off}),
                         TIMESTAMP '{origin}')) * 1.0
            FROM fz_t
            """
        ).fetchall()
    )
    assert got == want, f"stride={stride_s}s origin_off={origin_off}"


def test_asof_join_suffixes_colliding_value_columns(engines):
    """Right-side value columns that collide with left names get the
    merge_asof-style _right suffix instead of duplicating the name."""
    from arkflow_spark.functions import asof_join

    spark, _ = engines
    left = spark.createDataFrame([(1, "k", 10, 99)], "id int, k string, ts long, val int")
    right = spark.createDataFrame([("k", 5, 7)], "k string, ts long, val int")
    out = asof_join(left, right, on="ts", by="k")
    assert out.columns == ["id", "k", "ts", "val", "val_right"]
    row = out.collect()[0]
    assert row["val"] == 99 and row["val_right"] == 7


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_fuzz_capped_sessions_match_recursive_cte(engines, data):
    """The gap+cap sessionization fold (applyInPandas sequential
    recurrence) must agree with an INDEPENDENT implementation — DuckDB's
    recursive CTE — on random per-key integer-second event sets with
    random gap/cap horizons. Random data exercises the cap-split
    boundaries (cap hit exactly, cap and gap hit together, singleton
    sessions) that the fixed corpus misses."""
    from arkflow_spark.queries.analytics3_q import capped_sessions

    spark, con = engines
    gap = data.draw(st.integers(2, 15))
    cap = data.draw(st.integers(gap, 45))
    n = data.draw(st.integers(1, 40))
    rows = sorted(
        {
            (
                data.draw(st.integers(1, 2)),
                data.draw(st.integers(0, 200)),
            )
            for _ in range(n)
        }
    )
    sdf = spark.createDataFrame(
        [(k, s, i) for i, (k, s) in enumerate(rows)],
        "user_id long, sec long, event_id long",
    ).select("user_id", F_ts("sec").alias("ts"), "event_id")
    got = sorted(
        (
            r["user_id"],
            r["session_id"],
            int(r["session_start"].timestamp()),
            int(r["session_end"].timestamp()),
            r["n_events"],
        )
        for r in capped_sessions(
            sdf, gap * 10**9, cap * 10**9
        ).collect()
    )

    con.execute("CREATE OR REPLACE TABLE fz_cs (k bigint, sec bigint)")
    con.executemany("INSERT INTO fz_cs VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"""
            WITH RECURSIVE ev AS (
              SELECT k, sec,
                     row_number() OVER (PARTITION BY k ORDER BY sec) AS rn
              FROM fz_cs
            ),
            rec AS (
              SELECT k, sec, rn, CAST(1 AS BIGINT) AS sid, sec AS s0
              FROM ev WHERE rn = 1
              UNION ALL
              SELECT e.k, e.sec, e.rn,
                     CASE WHEN e.sec - r.sec > {gap} OR e.sec - r.s0 > {cap}
                          THEN r.sid + 1 ELSE r.sid END,
                     CASE WHEN e.sec - r.sec > {gap} OR e.sec - r.s0 > {cap}
                          THEN e.sec ELSE r.s0 END
              FROM ev e JOIN rec r ON e.k = r.k AND e.rn = r.rn + 1
            )
            SELECT k, sid, MIN(sec), MAX(sec), COUNT(*)
            FROM rec GROUP BY k, sid
            """
        ).fetchall()
    )
    assert got == want, f"sessions mismatch gap={gap} cap={cap} rows={rows}"
