"""Count-based sliding window — the reference's one genuinely custom
stateful operator (buffer/sliding_window.rs:283, SURVEY.md §4 "hard" list).

Semantics (sliding_window.rs:114-163): buffer messages in arrival order;
whenever >= ``window_size`` messages are buffered, emit a window of the
first ``window_size`` messages tagged with a window id, then advance by
``slide_size`` (dropping the oldest ``slide_size`` messages). Repeats while
enough messages remain.

Two implementations with identical semantics:
- batch: pure window functions (row_number arithmetic) — no state, fully
  distributed after a per-key sort;
- streaming: applyInPandasWithState keeping a bounded buffer per key
  (at most window_size - 1 rows carry over between micro-batches).

The other stateful operators below are keyed folds too: each one is a
step function run by :func:`_keyed_fold`, the module's only
applyInPandasWithState call.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DataType, StructType

Rows = list[tuple]


def _keyed_fold(
    df: DataFrame,
    group_col: str,
    *,
    init: tuple,
    step: Callable[[Any, dict], tuple[Any, Rows]],
    state_schema: str | StructType,
    out_schema: str,
    sort_by: str | list[str] | None = None,
    load: Callable[[tuple], Any] | None = None,
    dump: Callable[[Any], tuple] | None = None,
    finish: Callable[[Any], tuple[Any, Rows]] | None = None,
) -> DataFrame:
    """Per-key left fold over a stream with state kept across
    micro-batches and checkpoint restarts.

    For each key of each micro-batch: the stored state tuple (``init``
    for a new key) is mapped through ``load`` to the fold state; the
    key's rows, stable-sorted by ``sort_by`` (arrival order when None),
    go one at a time as column->value dicts through
    ``step(state, row) -> (state, rows)``; ``finish(state) ->
    (state, rows)`` then runs once, for operators that emit a
    per-batch summary; ``dump(state)`` is stored. ``init`` is in
    stored-tuple form because ``load`` is applied to it. Each emitted
    row is a tuple of the output columns after the group key, which is
    prepended here: every output schema starts with it. A batch that
    emits nothing yields an empty frame.
    """
    names = DataType.fromDDL(out_schema).names

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        st = state.get if state.exists else init
        if load is not None:
            st = load(st)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if sort_by is not None:
            batch = batch.sort_values(sort_by, kind="stable")
        out: Rows = []
        for row in batch.to_dict("records"):
            st, rows = step(st, row)
            out.extend(rows)
        if finish is not None:
            st, rows = finish(st)
            out.extend(rows)
        state.update(dump(st) if dump is not None else st)
        yield pd.DataFrame.from_records(
            [(key[0], *r) for r in out], columns=names
        )

    return df.groupBy(group_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _check_slide(window_size: int, slide_size: int) -> None:
    """Reject sizes the streaming sliding windows cannot honour: a zero
    size never drains the buffer, and a slide longer than the window
    would have to skip rows that have not arrived yet (the batch form,
    which sees every row, handles such gaps)."""
    if window_size < 1 or slide_size < 1:
        raise ValueError(
            f"window_size and slide_size must be >= 1, got "
            f"{window_size} and {slide_size}"
        )
    if slide_size > window_size:
        raise ValueError(
            f"slide_size {slide_size} > window_size {window_size} is not "
            "supported on a stream; use sliding_count_window_batch"
        )


def sliding_count_window_batch(
    df: DataFrame,
    window_size: int,
    slide_size: int,
    order_by: list[str],
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Assign (key, window_id, pos_in_window) to each row, batch-mode.

    Row r (0-based rank) belongs to window w iff
    w*slide <= r < w*slide + window_size and the window is complete
    (w*slide + window_size <= total rows). Each row lands in at most
    ceil(window_size/slide) windows — emitted via a bounded explode, not a
    self-join, so the operator scales linearly.
    """
    from pyspark.sql import Window as W

    keys = key_cols or []
    part = W.partitionBy(*keys) if keys else W.partitionBy(F.lit(1))
    rank = F.row_number().over(part.orderBy(*order_by)) - 1
    total = F.count("*").over(part)
    with_rank = df.withColumn("__r__", rank).withColumn("__n__", total)

    # candidate window ids for a row: floor((r - size + 1)/slide) .. floor(r/slide)
    w_first = F.greatest(
        F.ceil((F.col("__r__") - window_size + 1) / slide_size).cast("long"),
        F.lit(0),
    )
    w_last = F.floor(F.col("__r__") / slide_size).cast("long")
    wid = F.explode(F.sequence(w_first, w_last)).alias("window_id")
    out = (
        with_rank.select("*", wid)
        .filter(
            (F.col("__r__") >= F.col("window_id") * slide_size)
            & (F.col("__r__") < F.col("window_id") * slide_size + window_size)
            # only complete windows are emitted (sliding_window.rs:114-127)
            & (F.col("window_id") * slide_size + window_size <= F.col("__n__"))
        )
        .withColumn(
            "pos_in_window", (F.col("__r__") - F.col("window_id") * slide_size)
        )
        .drop("__r__", "__n__")
    )
    return out


def sliding_count_window_stream(
    df: DataFrame,
    window_size: int,
    slide_size: int,
    key_col: str,
    value_cols: list[str],
    output_schema: str,
) -> DataFrame:
    """Streaming count-based sliding windows via applyInPandasWithState.

    State per key: (next_window_id, buffered rows <= window_size - 1).
    Emits every complete window as soon as its last message arrives.
    ``output_schema`` must be: key, window_id long, pos_in_window long,
    then value_cols in order.
    """
    _check_slide(window_size, slide_size)

    def load(st: tuple) -> tuple:
        return st[0], [list(r) for r in zip(*st[1:])]

    def step(st: tuple, row: dict) -> tuple:
        next_wid, buf = st
        buf.append([row[c] for c in value_cols])
        if len(buf) < window_size:
            return (next_wid, buf), []
        rows = [(next_wid, i, *vals) for i, vals in enumerate(buf)]
        return (next_wid + 1, buf[slide_size:]), rows

    def dump(st: tuple) -> tuple:
        next_wid, buf = st
        cols = zip(*buf) if buf else [[] for _ in value_cols]
        return (next_wid, *[list(c) for c in cols])

    import pyspark.sql.types as T

    value_fields = [df.schema[c] for c in value_cols]
    state_schema = T.StructType(
        [T.StructField("next_wid", T.LongType())]
        + [
            T.StructField(f"buf_{f.name}", T.ArrayType(f.dataType))
            for f in value_fields
        ]
    )
    return _keyed_fold(
        df,
        key_col,
        init=(0, *[[] for _ in value_cols]),
        step=step,
        state_schema=state_schema,
        out_schema=output_schema,
        load=load,
        dump=dump,
    )


def sliding_count_window_tws(
    df: DataFrame,
    window_size: int,
    slide_size: int,
    key_col: str,
    value_cols: list[str],
    output_schema: str,
) -> DataFrame:
    """Count-based sliding window on the modern transformWithStateInPandas
    API (Spark 4) — same semantics as :func:`sliding_count_window_stream`
    (reference: buffer/sliding_window.rs:114-163), different state layout:

    - buffered rows live in a ListState, so per-batch appends are
      INCREMENTAL (RocksDB list merge) instead of rewriting the whole
      buffer value each micro-batch — the applyInPandasWithState variant
      rewrites O(window_size) state per batch, this writes O(new rows);
    - consumed rows advance a head pointer in a ValueState; the list is
      compacted (rewritten) only when dead rows outnumber live ones, so
      dequeue cost is amortized O(1) per row and state size stays
      < 2x window_size rows per key.

    At 100 TB / millions of keys this is the implementation to run: state
    I/O per batch is proportional to new data, not window size.

    Runtime requirements (standard on cluster images, absent in this dev
    container): the RocksDB state store provider and the google.protobuf
    package (pyspark's transformWithState state-server protocol).
    """
    _check_slide(window_size, slide_size)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    import pyspark.sql.types as T

    value_fields = [df.schema[c] for c in value_cols]
    buf_schema = T.StructType(list(value_fields))
    out_cols = [key_col, "window_id", "pos_in_window"] + value_cols

    class SlidingCountWindowProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._buf = handle.getListState("buf", buf_schema)
            self._meta = handle.getValueState(
                "meta", "next_wid bigint, head bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            next_wid, head = (
                tuple(self._meta.get()) if self._meta.exists() else (0, 0)
            )
            fresh = [
                tuple(r)
                for pdf in rows
                for r in pdf[value_cols].itertuples(index=False)
            ]
            if fresh:
                self._buf.appendList(fresh)
            buf = [tuple(r) for r in self._buf.get()]
            emitted = False
            while len(buf) - head >= window_size:
                window = buf[head : head + window_size]
                out = pd.DataFrame(window, columns=value_cols)
                out.insert(0, "pos_in_window", range(window_size))
                out.insert(0, "window_id", next_wid)
                out.insert(0, key_col, key[0])
                emitted = True
                yield out
                next_wid += 1
                head += slide_size
            live = len(buf) - head
            if head > max(live, window_size):
                # amortized compaction: rewrite only when dead > live rows
                self._buf.clear()
                if live:
                    self._buf.appendList(buf[head:])
                head = 0
            self._meta.update((next_wid, head))
            if not emitted:
                yield pd.DataFrame(columns=out_cols)

        def close(self) -> None:
            pass

    return (
        df.groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=SlidingCountWindowProcessor(),
            outputStructType=output_schema,
            outputMode="append",
            timeMode="none",
        )
    )


def ewma_stream(
    df: DataFrame,
    alpha: float,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming EWMA via applyInPandasWithState: the EXACT recurrence
    ``y = alpha*x + (1-alpha)*y_prev`` carried across micro-batches with
    one (double, count) state cell per key — the stateful twin of the
    batch `events_ewma` query (which, being a distributed window, uses
    the truncated-weight form instead; a recurrence cannot be a window).

    Rows are folded in ``ts_col`` order *within* each micro-batch; order
    across batches is the source's delivery order (file streams: listing
    order — pair with a watermarked sort upstream if the source can
    deliver late data). State is O(1) per key forever — no watermark
    needed for state cleanup.
    """

    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, "
        f"{value_col} DOUBLE, ewma DOUBLE, n BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        prev, n = st
        v = float(row[value_col])
        prev = v if prev is None else alpha * v + (1.0 - alpha) * prev
        return (prev, n + 1), [(row[ts_col], row[value_col], prev, n + 1)]

    return _keyed_fold(
        df,
        key_col,
        init=(None, 0),
        step=step,
        state_schema="ewma DOUBLE, n BIGINT",
        out_schema=out_schema,
        sort_by=ts_col,
    )


def rolling_zscore_stream(
    df: DataFrame,
    window: int,
    key_col: str,
    ts_col: str,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming rolling z-score anomaly detection: each value scored
    against the mean/std of its key's previous ``window`` observations
    (current row excluded) — the stateful twin of the batch
    `events_anomaly_zscore` query, with identical warm-up (< 5 prior
    observations => NULL score) and variance-guard (> 1e-9) semantics.

    State per key is a bounded ring of the last ``window`` values —
    O(window) forever, no watermark needed. Rows fold in ``ts_col`` order
    within each micro-batch; cross-batch order is the source's delivery
    order, as with :func:`ewma_stream`.
    """

    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {value_col} DOUBLE,"
        " n BIGINT, zscore DOUBLE, is_anomaly BOOLEAN"
    )

    def step(st: tuple, row: dict) -> tuple:
        (buf,) = st
        v = row[value_col]
        n = len(buf)
        z = None
        if n >= 5:
            mean = sum(buf) / n
            var = (sum(x * x for x in buf) - n * mean * mean) / (n - 1)
            if var > 1e-9:
                z = (float(v) - mean) / var**0.5
        flag = bool(z is not None and abs(z) > threshold)
        buf = [*buf, float(v)]
        if len(buf) > window:
            buf = buf[-window:]
        return (buf,), [(row[ts_col], v, n, z, flag)]

    return _keyed_fold(
        df,
        key_col,
        init=([],),
        step=step,
        state_schema="buf ARRAY<DOUBLE>",
        out_schema=out_schema,
        sort_by=ts_col,
    )


def windowed_topk_stream(
    df: DataFrame,
    k: int,
    window_duration: str,
    key_col: str,
    ts_col: str,
    watermark: str = "0 seconds",
):
    """Streaming tumbling-window top-N (Flink's windowed Top-N pattern) —
    the stateful twin of the batch `events_windowed_topk` query.

    Returns ``(agg_stream, rank_batch)``: ``agg_stream`` is the
    watermarked per-(window, key) count aggregate; run it in APPEND mode
    so a window's rows emit exactly once, together, when the watermark
    passes its end — then ``rank_batch`` (applied in foreachBatch or on
    any finalized micro-batch) ranks within each window and keeps the
    top ``k``. Ranking per micro-batch is correct because append-mode
    finalization emits every surviving key of a window in the same batch.

    State is bounded by the watermark (Spark evicts window state once it
    finalizes); the rank itself runs over at most |keys| rows per window.
    """
    from pyspark.sql import Window

    agg = (
        df.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window_duration).alias("w"), F.col(key_col)
        )
        .agg(F.count("*").alias("n"))
    )

    def rank_batch(batch_df: DataFrame) -> DataFrame:
        w = Window.partitionBy("w").orderBy(
            F.col("n").desc(), F.col(key_col)
        )
        return (
            batch_df.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select(
                F.col("w.start").alias("window_start"),
                key_col,
                "n",
                "rnk",
            )
        )

    return agg, rank_batch

def counter_rate_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming PromQL-style counter ``increase``: per key, each sample's
    delta from the previous sample counts toward the running increase; a
    negative delta is a counter reset, so the post-reset absolute value is
    the increase (same semantics as the batch `events_counter_rate`
    query). State is one (last_value, cumulative_increase) pair per key —
    O(1) forever, no watermark needed for cleanup.

    Rows fold in ``ts_col`` order within each micro-batch (stable sort);
    cross-batch order is the source's delivery order, as with
    `ewma_stream`.
    """

    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {value_col} DOUBLE, "
        "increase DOUBLE, cum_increase DOUBLE"
    )

    def step(st: tuple, row: dict) -> tuple:
        prev, cum = st
        v = float(row[value_col])
        if prev is None:
            inc = 0.0
        elif v >= prev:
            inc = v - prev
        else:  # counter reset
            inc = v
        cum += inc
        return (v, cum), [(row[ts_col], row[value_col], inc, cum)]

    return _keyed_fold(
        df,
        key_col,
        init=(None, 0.0),
        step=step,
        state_schema="last_value DOUBLE, cum_increase DOUBLE",
        out_schema=out_schema,
        sort_by=ts_col,
    )

def funnel_stream(
    df: DataFrame,
    stages: list[str],
    key_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Streaming ordered-funnel progression: per key, track the furthest
    stage reached IN ORDER across micro-batches (the stateful twin of the
    batch `events_funnel` query). Emits one row per stage advance —
    (key, stage index/name, ts reached) — so downstream conversion rates
    are a count per stage. State is a single (stage_idx, last_ts) pair
    per key; a completed funnel stops advancing (idempotent).

    Rows fold in ``ts_col`` order within each micro-batch; cross-batch
    order is the source's delivery order (pair with watermarked sort
    upstream if sources can deliver late data).
    """

    out_schema = (
        f"{key_col} STRING, stage_idx INT, stage STRING, "
        f"{ts_col} TIMESTAMP"
    )
    idx = {s: i for i, s in enumerate(stages)}

    def step(st: tuple, row: dict) -> tuple:
        nxt = st[0] + 1
        if nxt < len(stages) and idx.get(row[type_col]) == nxt:
            return (nxt,), [(nxt, stages[nxt], row[ts_col])]
        return st, []

    return _keyed_fold(
        df,
        key_col,
        init=(-1,),
        step=step,
        state_schema="stage_idx INT",
        out_schema=out_schema,
        sort_by=ts_col,
    )


def cep_pattern_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    start_event: str,
    end_event: str,
    within_s: int,
) -> DataFrame:
    """Streaming complex-event-processing (CEP) pattern detector: emit a
    match each time `end_event` follows `start_event` on the same key
    within `within_s` seconds — the MATCH_RECOGNIZE / Flink-CEP shape
    (A -> B within T), and the streaming twin of the batch
    `events_sequence_pattern` / `events_conversion_latency` queries.

    State is one pending-start epoch per key (O(1) forever): the FIRST
    unmatched `start_event` arms the pattern; a subsequent `end_event`
    emits iff within the horizon, and clears the pending start either
    way (matched or expired). Rows fold in `ts_col` order within each
    micro-batch; state carries across batches and checkpoint restarts.
    At scale this is one shuffle per micro-batch on the key column with
    kilobyte state rows — no joins, no buffering of raw events.
    """

    out_schema = (
        f"{key_col} STRING, start_ts TIMESTAMP, end_ts TIMESTAMP, "
        "latency_s BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        (pending,) = st
        epoch = row[ts_col].timestamp()
        et = row[type_col]
        if et == start_event:
            return (epoch if pending is None else pending,), []
        if et != end_event or pending is None:
            return st, []
        lat = epoch - pending
        if lat > within_s:
            return (None,), []
        start_ts, end_ts = pd.to_datetime([pending, epoch], unit="s")
        return (None,), [(start_ts, end_ts, int(lat))]

    return _keyed_fold(
        df,
        key_col,
        init=(None,),
        step=step,
        state_schema="pending DOUBLE",
        out_schema=out_schema,
        sort_by=ts_col,
    )


def _load_counts(st: tuple) -> tuple:
    """Stored (keys, counts, n, version) -> ({key: count}, n, version)."""
    keys, cnts, n, version = st
    return dict(zip(map(int, keys), map(int, cnts))), int(n), int(version)


def _dump_counts(st: tuple) -> tuple:
    counts, n, version = st
    return list(counts), list(counts.values()), n, version


def heavy_hitters_stream(
    df: DataFrame,
    key_col: str,
    k: int,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: the stateful twin of the
    batch `agg_heavy_hitters_mg` query. The key space shards by
    ``pmod(key, n_shards)``; each shard carries ONE bounded Misra-Gries
    summary (at most ``k`` counters) as its state cell and re-emits the
    whole summary every micro-batch, tagged with a monotonically
    increasing ``version`` — downstream takes ``max(version)`` per shard
    and merges shards by key-sum, inheriting the deterministic
    per-shard bound ``exact - n/(k+1) <= est <= exact`` (mergeable
    summaries, Agarwal et al. PODS'12).

    State is O(k) per shard FOREVER — no watermark needed — which is
    the entire point: top-N over an unbounded stream with bounded
    memory, where an exact streaming count would grow with the key
    cardinality.
    """

    out_schema = (
        f"shard INT, {key_col} BIGINT, est BIGINT, n BIGINT, "
        "version BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        counters, n, version = st
        u = int(row[key_col])
        if u in counters:
            counters[u] += 1
        elif len(counters) < k:
            counters[u] = 1
        else:
            for kk in list(counters):
                counters[kk] -= 1
                if counters[kk] == 0:
                    del counters[kk]
        return (counters, n + 1, version), []

    def finish(st: tuple) -> tuple:
        counters, n, version = st
        version += 1
        # a Misra-Gries summary can legitimately end EMPTY (every counter
        # decremented away); emit a null-key sentinel so downstream still
        # sees this shard's latest (n, version) instead of a stale one
        rows = [(u, c, n, version) for u, c in counters.items()]
        return (counters, n, version), rows or [(None, None, n, version)]

    sharded = df.withColumn(
        "shard", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int")
    )
    return _keyed_fold(
        sharded,
        "shard",
        init=([], [], 0, 0),
        step=step,
        state_schema=(
            "keys ARRAY<BIGINT>, cnts ARRAY<BIGINT>, n BIGINT, "
            "version BIGINT"
        ),
        out_schema=out_schema,
        load=_load_counts,
        dump=_dump_counts,
        finish=finish,
    )


def ddsketch_stream(
    df: DataFrame,
    key_col: str,
    value_col: str,
    gamma: float = 1.02,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Streaming DDSketch quantiles: the stateful twin of the batch
    `events_ddsketch_quantile` query. Per key, the state cell is the
    log-bucket histogram {ceil(ln(v)/ln(gamma)): count} — O(log(max/min)
    / ln(gamma)) entries FOREVER, no watermark needed — and every
    micro-batch re-emits the current q-quantile estimates
    (gamma-midpoint of the first bucket whose cumulative count reaches
    ceil(q*n)), tagged with a monotone ``version`` so downstream takes
    the latest. The relative-error bound |est-true|/true <=
    (gamma-1)/(gamma+1) holds at every emission by the DDSketch theorem
    (Masson et al., VLDB 2019).

    Non-positive values are ignored (log buckets are defined for v>0 —
    same rule as the batch query).
    """
    import math

    out_schema = (
        f"{key_col} STRING, q DOUBLE, est DOUBLE, n BIGINT, "
        "version BIGINT"
    )
    lg = math.log(gamma)

    def step(st: tuple, row: dict) -> tuple:
        hist, n, version = st
        v = float(row[value_col])
        if v <= 0.0:
            return st, []
        b = math.ceil(math.log(v) / lg)
        hist[b] = hist.get(b, 0) + 1
        return (hist, n + 1, version), []

    def finish(st: tuple) -> tuple:
        hist, n, version = st
        version += 1
        rows = []
        if n:
            items = sorted(hist.items())
            for q in qs:
                target = math.ceil(q * n)
                cum = 0
                for b, c in items:
                    cum += c
                    if cum >= target:
                        est = 2.0 * gamma**b / (gamma + 1.0)
                        rows.append((q, est, n, version))
                        break
        return (hist, n, version), rows

    return _keyed_fold(
        df,
        key_col,
        init=([], [], 0, 0),
        step=step,
        state_schema=(
            "buckets ARRAY<BIGINT>, counts ARRAY<BIGINT>, n BIGINT, "
            "version BIGINT"
        ),
        out_schema=out_schema,
        load=_load_counts,
        dump=_dump_counts,
        finish=finish,
    )


def burst_hysteresis_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    enter_above: float,
    exit_below: float,
) -> DataFrame:
    """Streaming Schmitt-trigger burst detection: the stateful twin of
    the batch `events_burst_hysteresis` query. Per key, one integer
    state cell carries the burst flag across micro-batches: enter when
    the value exceeds ``enter_above``, leave only below ``exit_below``,
    HOLD otherwise — the two-threshold hysteresis that keeps a
    single-threshold alert from flapping on boundary-straddling
    values. The batch query derives its thresholds from full-series
    moments; a stream cannot see the future, so thresholds are
    explicit (in production: yesterday's mu + k*sd, refreshed by a
    batch job — the classic lambda hand-off).

    Rows fold in ``ts_col`` order within each micro-batch; state is
    O(1) per key forever, no watermark needed.
    """

    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {value_col} DOUBLE, "
        "burst BOOLEAN, burst_start BOOLEAN"
    )

    def step(st: tuple, row: dict) -> tuple:
        prev = cur = int(st[0])
        v = float(row[value_col])
        if v > enter_above:
            cur = 1
        elif v < exit_below:
            cur = 0
        burst, start = bool(cur), bool(cur and not prev)
        return (cur,), [(row[ts_col], row[value_col], burst, start)]

    return _keyed_fold(
        df,
        key_col,
        init=(0,),
        step=step,
        state_schema="burst INT",
        out_schema=out_schema,
        sort_by=ts_col,
    )


def uniform_sample_stream(
    df: DataFrame,
    id_col: str,
    k: int,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming uniform k-sample without replacement — the stateful
    twin of the batch `events_uniform_sample_hashprio` query, and the
    distributed replacement for classic single-node reservoir sampling.

    Every row's priority is md5(id); keeping the k SMALLEST priorities
    seen so far keeps a uniform k-subset of the stream so far (order
    statistics of i.i.d. uniforms), so the "reservoir" is just a
    bounded top-k per shard: each shard's state is its k smallest
    (priority, id) pairs, re-emitted every micro-batch with a version
    tag; downstream takes max(version) per shard and merges shards by
    smallest priority. Because the priority is a pure function of the
    id, the streaming sample after ANY prefix equals the batch query
    over that prefix — deterministic, restart-safe (checkpointed
    state), and auditable.

    State is O(k) per shard forever; no watermark, no growth with
    stream length — the property a perpetual eval-set reservoir needs.
    """

    out_schema = (
        f"shard INT, priority STRING, {id_col} BIGINT, "
        "n_seen BIGINT, version BIGINT"
    )

    def load(st: tuple) -> tuple:
        prios, ids, n_seen, version = st
        return list(zip(prios, map(int, ids))), int(n_seen), int(version)

    def step(st: tuple, row: dict) -> tuple:
        pool, n_seen, version = st
        pool.append((row["priority"], int(row[id_col])))
        return (pool, n_seen + 1, version), []

    def finish(st: tuple) -> tuple:
        pool, n_seen, version = st
        pool = sorted(pool)[:k]
        version += 1
        rows = [(p, i, n_seen, version) for p, i in pool]
        return (pool, n_seen, version), rows or [(None, None, n_seen, version)]

    def dump(st: tuple) -> tuple:
        pool, n_seen, version = st
        return [p for p, _ in pool], [i for _, i in pool], n_seen, version

    sharded = df.select(
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12).alias(
            "priority"
        ),
        id_col,
    )
    return _keyed_fold(
        sharded,
        "shard",
        init=([], [], 0, 0),
        step=step,
        state_schema=(
            f"prios ARRAY<STRING>, ids ARRAY<BIGINT>, n_seen BIGINT, "
            "version BIGINT"
        ),
        out_schema=out_schema,
        load=load,
        dump=dump,
        finish=finish,
    )


def xmr_limits_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    k: float = 2.66,
) -> DataFrame:
    """Streaming Shewhart XmR control chart: each arriving point is
    tested against the natural process limits (xbar +/- k*MRbar)
    estimated from all PRIOR points of its key, then folded into the
    running estimate — the stateful twin of the batch
    `events_spc_xmr_chart` query (which fits limits over the whole
    table; a live detector must score each point against the past
    only, exactly like `rolling_zscore_stream` vs the batch z-score).

    State per key is O(1) forever: (n, sum_x, sum_|dx|, n_mr, last,
    n_out). Sums accumulate pre-quantized values so a restart replays
    to bit-identical limits. Rows fold in ``ts_col`` order within each
    micro-batch; cross-batch order is the source's delivery order —
    pair with an upstream watermark sort for late-data sources.

    Reference scope: arkflow streaming pipelines run such per-batch
    detectors via the SQL/VRL processors
    (crates/arkflow-plugin/src/processor/sql.rs); constant state and
    restart-exactness are the Spark-native re-expression.
    """

    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {value_col} DOUBLE, "
        "xbar DOUBLE, mrbar DOUBLE, ucl DOUBLE, lcl DOUBLE, "
        "out_of_control BOOLEAN, n BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        n, sum_x, sum_mr, n_mr, last, n_out = st
        x = float(row[value_col])
        # limits from PRIOR data only (need >= 2 points for MRbar)
        if n >= 2 and n_mr >= 1:
            xbar = sum_x / n
            mrbar = sum_mr / n_mr
            ucl = xbar + k * mrbar
            lcl = xbar - k * mrbar
            out = bool(x > ucl or x < lcl)
        else:
            xbar = mrbar = ucl = lcl = None
            out = False
        if last is not None:
            sum_mr += abs(x - last)
            n_mr += 1
        n += 1
        st = (n, sum_x + x, sum_mr, n_mr, x, n_out + int(out))
        row_out = (row[ts_col], row[value_col], xbar, mrbar, ucl, lcl, out, n)
        return st, [row_out]

    return _keyed_fold(
        df,
        key_col,
        init=(0, 0.0, 0.0, 0, None, 0),
        step=step,
        state_schema=(
            "n BIGINT, sum_x DOUBLE, sum_mr DOUBLE, n_mr BIGINT, "
            "last DOUBLE, n_out BIGINT"
        ),
        out_schema=out_schema,
        sort_by=ts_col,
    )


def page_hinkley_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    delta: float = 0.0,
    lam: float = 10.0,
    direction: str = "increase",
) -> DataFrame:
    """Streaming Page-Hinkley changepoint detector: the online form of
    the batch `events_page_hinkley_drift` query. Each arriving point
    folds into the running mean, the cumulative deviation
    m_t += (x_t - mean_t -/+ delta), and the running extreme of m; the
    PH statistic is the gap between m and its extreme, alarming when it
    exceeds ``lam``. ``direction='increase'`` tracks the running MIN
    (detects upward mean shifts); ``'decrease'`` tracks the MAX.

    State per key is O(1) forever: (n, sum_x, m, extreme, n_alarms).
    Values quantize to 6 decimals before folding so a checkpoint restart
    replays to bit-identical statistics (the `xmr_limits_stream`
    discipline). Unlike the batch twin — which centers on the FULL
    corpus mean — the online mean adapts as data arrives, which is what
    a live detector must do.

    Reference scope: arkflow streaming pipelines run such per-batch
    detectors via the SQL/VRL processors
    (crates/arkflow-plugin/src/processor/sql.rs); constant state and
    restart-exactness are the Spark-native re-expression.
    """
    if direction not in ("increase", "decrease"):
        raise ValueError("direction must be 'increase' or 'decrease'")
    inc = direction == "increase"

    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {value_col} DOUBLE, "
        "m DOUBLE, ph_stat DOUBLE, alarm BOOLEAN, n BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        n, sum_x, m, extreme, n_alarms = st
        x = round(float(row[value_col]), 6)  # pre-quantize: restart-exact sums
        sum_x += x
        n += 1
        mean = sum_x / n
        dev = (x - mean - delta) if inc else (x - mean + delta)
        m = round(m + dev, 9)
        extreme = min(extreme, m) if inc else max(extreme, m)
        stat = (m - extreme) if inc else (extreme - m)
        alarm = bool(stat > lam)
        st = (n, sum_x, m, extreme, n_alarms + int(alarm))
        return st, [(row[ts_col], row[value_col], m, stat, alarm, n)]

    return _keyed_fold(
        df,
        key_col,
        init=(0, 0.0, 0.0, 0.0, 0),
        step=step,
        state_schema=(
            "n BIGINT, sum_x DOUBLE, m DOUBLE, extreme DOUBLE, "
            "n_alarms BIGINT"
        ),
        out_schema=out_schema,
        sort_by=ts_col,
    )


# --------------------------------------------------------- P^2 quantile


def p2_fold_value(
    st: tuple, x: float, p: float
) -> tuple:
    """One P-square (Jain & Chlamtac 1985) fold step: advance the
    5-marker state with observation ``x`` for target quantile ``p``.
    Pure function so the streaming operator and any batch replay share
    the exact recurrence (restart-exactness = driving this fold over
    the concatenated stream).

    State tuple: (n, q1..q5 heights, p1..p5 marker positions). For
    n < 5 the heights buffer the first observations; at n == 5 they
    sort into the initial markers.
    """
    n, q, pos = st[0], list(st[1]), list(st[2])
    x = round(float(x), 6)  # pre-quantize: restart-exact state
    if n < 5:
        q[n] = x
        n += 1
        if n == 5:
            q.sort()
            pos = [1, 2, 3, 4, 5]
        return (n, tuple(q), tuple(pos))
    # locate cell k (1-based marker indices; k in 1..4)
    if x < q[0]:
        q[0] = x
        k = 1
    elif x >= q[4]:
        q[4] = x
        k = 4
    else:
        k = 1
        while not (q[k - 1] <= x < q[k]):
            k += 1
    n += 1
    for i in range(k, 5):  # markers k+1..5 shift right
        pos[i] += 1
    d = (0.0, p / 2, p, (1 + p) / 2, 1.0)
    for i in (1, 2, 3):  # interior markers
        desired = 1 + (n - 1) * d[i]
        di = desired - pos[i]
        if (di >= 1 and pos[i + 1] - pos[i] > 1) or (
            di <= -1 and pos[i - 1] - pos[i] < -1
        ):
            s = 1 if di >= 1 else -1
            # parabolic (P^2) prediction, fall back to linear if it
            # would break marker monotonicity
            qp = q[i] + s / (pos[i + 1] - pos[i - 1]) * (
                (pos[i] - pos[i - 1] + s)
                * (q[i + 1] - q[i])
                / (pos[i + 1] - pos[i])
                + (pos[i + 1] - pos[i] - s)
                * (q[i] - q[i - 1])
                / (pos[i] - pos[i - 1])
            )
            if not (q[i - 1] < qp < q[i + 1]):
                qp = q[i] + s * (q[i + s] - q[i]) / (pos[i + s] - pos[i])
            q[i] = round(qp, 9)
            pos[i] += s
    return (n, tuple(q), tuple(pos))


def p2_estimate(st: tuple) -> float:
    """Current quantile estimate from P^2 state: the middle marker once
    initialized, else the midpoint of the sorted warm-up buffer."""
    n, q = st[0], st[1]
    if n >= 5:
        return q[2]
    if n == 0:
        return float("nan")
    buf = sorted(q[:n])
    return buf[(n - 1) // 2]


def p2_quantile_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    p: float = 0.9,
) -> DataFrame:
    """Streaming P-square quantile estimator: O(1) state per key — five
    marker heights + positions — tracking the running ``p``-quantile
    without storing observations (Jain & Chlamtac 1985). The constant-
    state alternative to `ddsketch_stream` when a single target
    quantile (p99 latency, p50 gap) is all the dashboard needs: 11
    numbers per key, mergeable-by-replay, restart-exact.

    Each output row carries the estimate AFTER folding that row in.
    Restart-exactness: values pre-quantize to 6 decimals and marker
    updates round to 9, and the whole fold lives in the pure
    `p2_fold_value` — a checkpoint restart replays to bit-identical
    markers (the `xmr_limits_stream` discipline; the test drives the
    same fold over the concatenated stream and compares exactly).

    Reference scope: arkflow streaming pipelines compute rolling
    quantiles via SQL-processor windows
    (crates/arkflow-plugin/src/processor/sql.rs); the P^2 sketch is the
    bounded-state Spark-native form.
    """
    if not (0.0 < p < 1.0):
        raise ValueError("p must be in (0, 1)")

    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {value_col} DOUBLE, "
        "estimate DOUBLE, n BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        v = row[value_col]
        st = p2_fold_value(st, v, p)
        return st, [(row[ts_col], v, p2_estimate(st), st[0])]

    return _keyed_fold(
        df,
        key_col,
        init=(0, *(0.0,) * 5, *(0,) * 5),
        step=step,
        state_schema=(
            "n BIGINT, q1 DOUBLE, q2 DOUBLE, q3 DOUBLE, q4 DOUBLE, "
            "q5 DOUBLE, p1 BIGINT, p2 BIGINT, p3 BIGINT, p4 BIGINT, "
            "p5 BIGINT"
        ),
        out_schema=out_schema,
        sort_by=ts_col,
        load=lambda flat: (flat[0], tuple(flat[1:6]), tuple(flat[6:11])),
        dump=lambda st: (st[0], *st[1], *st[2]),
    )


# --------------------------------------------------------- rate limiter


def rate_limit_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    limit: int = 5,
    window_s: int = 60,
) -> DataFrame:
    """Streaming sliding-log rate limiter: per key, keep the timestamps
    of the last ``limit`` ACCEPTED events; a new event is dropped when
    ``limit`` accepted events already sit inside the trailing
    ``window_s`` seconds. Dropped events do NOT enter the log (true
    enforcement semantics — contrast `events_sliding_rate_limit_audit`,
    the batch dry-run that counts all events). State per key is O(limit)
    forever; integer epoch seconds make replay restart-exact.

    Reference scope: arkflow enforces rate limits in the HTTP source
    middleware (rate_limiter.rs; re-expressed in
    sources/http_ingest.py); this operator applies the same policy to
    any keyed stream inside the dataflow.
    """
    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, "
        "accepted BOOLEAN, in_window BIGINT, n_dropped BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        log, n_dropped = st
        ts = row[ts_col]
        sec = int(pd.Timestamp(ts).value // 1_000_000_000)
        log = [t for t in log if t > sec - window_s]
        ok = len(log) < limit
        if ok:
            log.append(sec)
        else:
            n_dropped += 1
        return (log, n_dropped), [(ts, ok, len(log), n_dropped)]

    return _keyed_fold(
        df,
        key_col,
        init=("", 0),
        step=step,
        state_schema="log_csv STRING, n_dropped BIGINT",
        out_schema=out_schema,
        sort_by=ts_col,
        load=lambda st: ([int(x) for x in st[0].split(",") if x], st[1]),
        dump=lambda st: (",".join(str(t) for t in st[0]), st[1]),
    )


# --------------------------------------------------------- CUSUM


def cusum_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    target: float,
    slack: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Streaming two-sided CUSUM: the online twin of the batch
    `events_cusum_alarm` query. Each point folds into the classic
    recurrences s_hi = max(0, s_hi + (x - target - slack)) and
    s_lo = max(0, s_lo + (target - x - slack)); either side exceeding
    ``h`` alarms. CUSUM accumulates small persistent shifts that a
    per-point control chart (`xmr_limits_stream`) never flags.

    State per key is O(1) forever: (s_hi, s_lo, n, n_alarms). Values
    quantize to 6 decimals and the sums re-round to 9 decimals per fold,
    so a checkpoint restart replays bit-identically (the
    `xmr_limits_stream` discipline).

    Reference scope: arkflow streaming pipelines run such per-batch
    detectors via the SQL/VRL processors
    (crates/arkflow-plugin/src/processor/sql.rs); constant state and
    restart-exactness are the Spark-native re-expression.
    """
    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {value_col} DOUBLE, "
        "s_hi DOUBLE, s_lo DOUBLE, alarm BOOLEAN, n BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        s_hi, s_lo, n, n_alarms = st
        x = round(float(row[value_col]), 6)  # pre-quantize: restart-exact sums
        s_hi = round(max(0.0, s_hi + (x - target - slack)), 9)
        s_lo = round(max(0.0, s_lo + (target - x - slack)), 9)
        n += 1
        alarm = bool(s_hi > h or s_lo > h)
        st = (s_hi, s_lo, n, n_alarms + int(alarm))
        return st, [(row[ts_col], row[value_col], s_hi, s_lo, alarm, n)]

    return _keyed_fold(
        df,
        key_col,
        init=(0.0, 0.0, 0, 0),
        step=step,
        state_schema=(
            "s_hi DOUBLE, s_lo DOUBLE, n BIGINT, n_alarms BIGINT"
        ),
        out_schema=out_schema,
        sort_by=ts_col,
    )


# --------------------------------------------------------- Bloom dedup

_BLOOM_M_BITS = 8192
_BLOOM_K = 4


def _bloom_positions(fp: str) -> list[int]:
    """k bit positions from one md5: four 16-bit hex chunks mod m.
    Deterministic and engine-portable (same md5 the batch dedup
    fingerprints use)."""
    import hashlib

    h = hashlib.md5(fp.encode("utf-8")).hexdigest()
    return [
        int(h[4 * i : 4 * i + 4], 16) % _BLOOM_M_BITS
        for i in range(_BLOOM_K)
    ]


def _load_bits(st: tuple) -> tuple:
    """Stored (BINARY, *rest) -> (mutable bytearray, *rest)."""
    return (bytearray(st[0]), *st[1:])


def _dump_bits(st: tuple) -> tuple:
    return (bytes(st[0]), *st[1:])


def bloom_dedup_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    fp_col: str,
) -> DataFrame:
    """Streaming approximate dedup with BOUNDED state: a per-key Bloom
    filter (m=8192 bits, k=4 hashes from one md5) tests-and-inserts
    each arriving fingerprint. `dedup_incremental`'s ledger is exact
    but grows with distinct keys; the Bloom twin caps state at m/8
    bytes per key forever, trading a quantifiable false-positive rate
    (~(bits_set/m)^k at query time, reported per row) — the standard
    at-scale first-pass in front of an exact reconciliation.

    State per key: (filter bytes, bits_set, n_seen, n_dup_flagged) —
    O(m) forever, restart-exact (bit operations are integer-exact).
    """
    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, {fp_col} STRING, "
        "dup_probable BOOLEAN, bits_set BIGINT, fp_rate DOUBLE, n BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        arr, bits_set, n_seen, n_dup = st
        fp = row[fp_col]
        pos = _bloom_positions(str(fp))
        hit = all(arr[p >> 3] & (1 << (p & 7)) for p in pos)
        if not hit:
            for p in pos:
                if not arr[p >> 3] & (1 << (p & 7)):
                    arr[p >> 3] |= 1 << (p & 7)
                    bits_set += 1
        n_seen += 1
        rate = round((bits_set / _BLOOM_M_BITS) ** _BLOOM_K, 9)
        st = (arr, bits_set, n_seen, n_dup + int(hit))
        return st, [(row[ts_col], fp, bool(hit), bits_set, rate, n_seen)]

    return _keyed_fold(
        df,
        key_col,
        init=(bytes(_BLOOM_M_BITS // 8), 0, 0, 0),
        step=step,
        state_schema=(
            "filter BINARY, bits_set BIGINT, n_seen BIGINT, "
            "n_dup BIGINT"
        ),
        out_schema=out_schema,
        sort_by=ts_col,
        load=_load_bits,
        dump=_dump_bits,
    )


# --------------------------------------------------------- HyperLogLog

_HLL_P = 10  # 2^10 = 1024 registers


def hll_fold_item(regs: bytearray, item: str) -> None:
    """Fold one item into the register array (mutates in place):
    md5-derived 60-bit hash, top p bits pick the register, the rank of
    the first set bit in the remaining 50 bits updates it."""
    import hashlib

    h = int(hashlib.md5(str(item).encode("utf-8")).hexdigest()[:15], 16)
    idx = h >> (60 - _HLL_P)
    w = h & ((1 << (60 - _HLL_P)) - 1)
    # rho = leading zeros within the 50-bit suffix + 1
    rho = (60 - _HLL_P) - w.bit_length() + 1
    if rho > regs[idx]:
        regs[idx] = rho


def hll_estimate(regs: bytes) -> float:
    """Flajolet et al. 2007 estimator with the small-range
    linear-counting correction (the regime these tests exercise)."""
    m = 1 << _HLL_P
    alpha = 0.7213 / (1 + 1.079 / m)
    s = sum(2.0 ** -r for r in regs)
    e = alpha * m * m / s
    zeros = sum(1 for r in regs if r == 0)
    if e <= 2.5 * m and zeros:
        import math

        e = m * math.log(m / zeros)
    return e


def hll_cardinality_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    item_col: str,
) -> DataFrame:
    """Streaming HyperLogLog distinct count per key: the online twin of
    the batch `agg_approx_distinct` sketch family. Each arriving item
    folds into 2^10 one-byte registers; every row emits the running
    estimate. Exact distinct counting needs state proportional to the
    distinct set; HLL holds 1024 bytes per key FOREVER with ~1.6%
    standard error at this width — the only viable shape for per-key
    cardinality over unbounded streams.

    State per key: (registers BINARY, n_seen) — O(1), restart-exact
    (register maxima are integer-exact under any replay order).
    """
    out_schema = (
        f"{key_col} STRING, {ts_col} TIMESTAMP, "
        "estimate DOUBLE, n_seen BIGINT"
    )

    def step(st: tuple, row: dict) -> tuple:
        regs, n_seen = st
        hll_fold_item(regs, row[item_col])
        est = round(hll_estimate(regs), 4)
        return (regs, n_seen + 1), [(row[ts_col], est, n_seen + 1)]

    return _keyed_fold(
        df,
        key_col,
        init=(bytes(1 << _HLL_P), 0),
        step=step,
        state_schema="registers BINARY, n_seen BIGINT",
        out_schema=out_schema,
        sort_by=ts_col,
        load=_load_bits,
        dump=_dump_bits,
    )


# ------------------------------------------------ capped sessionizer


def capped_sessions_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    gap_ns: int,
    cap_ns: int,
    late_policy: str = "flag",
) -> DataFrame:
    """Streaming twin of the batch gap+cap sessionizer
    (`queries/analytics3_q.capped_sessions` / `events_session_capped`):
    a new session starts when the idle gap exceeds ``gap_ns`` OR the
    running session duration exceeds ``cap_ns`` — the data-dependent
    recurrence no fixed window frame expresses, which is exactly why
    the built-in ``session_window`` (gap-only) cannot subsume it.
    Emits every event with its assigned (session_id, session_start),
    so the batch fold over the same rows reproduces the stream's
    assignment row-for-row (tested across a checkpoint restart).

    State per key is O(1) forever: (session_id, session_start_ns,
    last_ts_ns) — integer nanoseconds, so restart replay is exact by
    construction (no float rounding discipline needed).

    Reference scope: the reference expresses sessionization through
    SQL-processor windows (crates/arkflow-plugin/src/processor/sql.rs)
    and cannot cap a session's DURATION either; the stateful twin is
    the Spark-native extension point for it.

    Ordering contract (r5 advisor): batch parity holds only when each
    key's events arrive in event-time order ACROSS micro-batches
    (within a batch we sort). A row arriving with ts < the saved
    last-event time is LATE, and silently folding it into the open
    session (the pre-r6 behavior) diverged from the batch fold with no
    signal. ``late_policy`` makes the divergence explicit:

    - ``"flag"`` (default): emit the row assigned to the open session
      with ``is_late = true`` and WITHOUT advancing state — on-time
      rows keep exact batch parity, late ones are marked for the
      caller to reconcile. CAVEAT (r6 ADVICE): the flagged row carries
      the OPEN session's ``session_start``, so a late event older than
      that start is emitted with ``ts < session_start`` (and one older
      than the cap window can imply a session exceeding ``cap_ns``).
      Consumers MUST exclude ``is_late`` rows from duration/gap
      aggregates — fold them in and the math silently goes negative or
      over-cap; filter ``NOT is_late`` first and reconcile the flagged
      rows separately (reassign, re-sessionize, or count them);
    - ``"drop"``: suppress late rows entirely (state untouched);
    - ``"accept"``: pre-r6 behavior — treat the row as in-order
      (negative gap joins the open session AND regresses the
      last-event clock), documented as diverging from the batch fold.
    """
    if late_policy not in ("flag", "drop", "accept"):
        raise ValueError(f"unknown late_policy: {late_policy!r}")
    out_schema = (
        f"{key_col} BIGINT, {ts_col} TIMESTAMP, {id_col} BIGINT, "
        "session_id BIGINT, session_start TIMESTAMP, is_late BOOLEAN"
    )

    def step(st: tuple, row: dict) -> tuple:
        sid, start_ns, prev_ns = st
        ts = row[ts_col]
        ns = ts.value
        # lateness is cross-batch only: the batch is sorted, so a
        # late row can only regress vs the SAVED clock, and late
        # rows form a prefix of the sorted batch
        late = prev_ns is not None and ns < prev_ns
        if late and late_policy == "drop":
            return st, []
        if late and late_policy == "flag":
            return st, [(ts, row[id_col], sid, pd.Timestamp(start_ns), True)]
        if (
            prev_ns is None
            or ns - prev_ns > gap_ns
            or ns - start_ns > cap_ns
        ):
            sid += 1
            start_ns = ns
        row_out = (ts, row[id_col], sid, pd.Timestamp(start_ns), False)
        return (sid, start_ns, ns), [row_out]

    return _keyed_fold(
        df,
        key_col,
        init=(0, None, None),
        step=step,
        state_schema=(
            "session_id BIGINT, start_ns BIGINT, prev_ns BIGINT"
        ),
        out_schema=out_schema,
        sort_by=[ts_col, id_col],
    )


# ------------------------------------------------ growth accounting


def growth_accounting_stream(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Streaming twin of the batch daily growth accounting
    (`queries/analytics114_q.events_growth_accounting`): classify each
    NEW (user, day) as it arrives — ``new`` (first day ever for the
    user), ``retained`` (also active the previous day), ``resurrected``
    (seen before, idle yesterday) — without ever rescanning history.
    Each active user-day is emitted exactly once; a day already
    emitted for the user is silently skipped (idempotent replays).
    Downstream, DAU(d) = rows with day d, and churned(d) =
    DAU(d-1) - retained(d), so the whole batch decomposition is
    recoverable from the incremental stream.

    State per user is O(1) forever: (first_day, last_day) as integer
    epoch days. Like `capped_sessions_stream`, batch parity requires
    per-user event-time order ACROSS micro-batches; a user-day older
    than the saved last_day is dropped (it was either emitted already
    or arrived late — both mean no new emission).

    Reference scope: the reference has no incremental-state surface at
    all (its buffers are processing-time windows,
    crates/arkflow-plugin/src/buffer/); this is the Spark-native
    extension the training-metrics pipeline needs at 100 TB, where
    re-deriving first-seen days over full history each day is the cost
    being avoided.
    """
    out_schema = f"{user_col} BIGINT, day DATE, status STRING"

    def step(st: tuple, row: dict) -> tuple:
        first_day, last_day = st
        d = int(row[ts_col].normalize().value // 86_400_000_000_000)
        if last_day is not None and d <= last_day:
            return st, []  # emitted already or late — nothing new
        if first_day is None:
            status = "new"
            first_day = d
        elif d == last_day + 1:
            status = "retained"
        else:
            status = "resurrected"
        day = pd.Timestamp(d * 86_400_000_000_000).date()
        return (first_day, d), [(day, status)]

    return _keyed_fold(
        df,
        user_col,
        init=(None, None),
        step=step,
        state_schema="first_day BIGINT, last_day BIGINT",
        out_schema=out_schema,
        sort_by=ts_col,
    )
